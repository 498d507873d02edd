"""Deduplication operators over the ``documents`` table ([EXT]):
exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale ladder (each step trades exactness for a smaller join):
  * exact        — one hash-groupBy; the O(n) baseline.
  * ngram-jaccard— shingle self-join; exact Jaccard, quadratic in
                   the worst case but the shingle join only pairs
                   docs sharing a shingle (inverted-index semantics).
  * minhash-lsh  — banded signatures; candidate pairs are only docs
                   colliding in ≥1 band; exact-verify after.  This is
                   the 100 TB path.
  * simhash      — one 16-bit signature per doc; hamming-bucket join.

All shingling/hashing is Spark built-ins (xxhash64, md5) — no Python
in any hot path.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from meteaudata_spark.plans.opcache import cache_intermediate, memo_relation
from meteaudata_spark.sources.tables import _docs, _spread

# Mersenne prime 2^31-1: universal-hash modulus small enough that
# a·h+b never overflows a signed 64-bit long under ANSI arithmetic
_MERSENNE = (1 << 31) - 1


def doc_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: keep the lowest doc_id per md5(text); report how
    many copies each kept doc had."""
    d = _docs(spark, sf_dir)
    return (
        d.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("kept_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
        .select("kept_doc_id", "text_hash", "n_copies")
        
    )


DOC_EXACT_DEDUP_SQL = """
SELECT MIN(doc_id) AS kept_doc_id, md5(text) AS text_hash, COUNT(*) AS n_copies
FROM documents
GROUP BY md5(text)
ORDER BY kept_doc_id
"""


def _shingles(d: DataFrame, n: int = 3) -> DataFrame:
    """Distinct word n-gram shingles per doc: (doc_id, shingle).

    ``split`` runs once per row (projected before the lambda) — with
    the split inside the lambda Catalyst re-evaluates it per shingle
    index, turning an O(words) projection into O(words²)."""
    # Spark SQL array subscript is 0-based inside lambda expressions
    # guard docs shorter than n words: Spark's sequence(0, size-n)
    # DESCENDS when size < n and the i+1 slice start then hits 0,
    # which faults — emit no shingles instead (matches DuckDB's empty
    # generate_series)
    shingle_arr = F.expr(
        f"CASE WHEN size(__toks) < {n} THEN CAST(array() AS array<string>) "
        f"ELSE array_distinct(transform(sequence(0, size(__toks) - {n}), "
        f"i -> concat_ws(' ', slice(__toks, i + 1, {n})))) END"
    )
    return (
        _spread(d)
        .select("doc_id", F.split(F.col("text"), " ").alias("__toks"))
        .select("doc_id", F.explode(shingle_arr).alias("shingle"))
    )


def _hashed_shingles(d: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, h) with h = xxhash64(shingle): 8-byte join/group keys
    instead of ~20-byte strings.  Jaccard over hashed shingles equals
    string Jaccard up to a ~n_shingles²/2⁶⁴ collision probability —
    negligible, and the same trick every large-scale dedup pipeline
    uses."""
    return _shingles(d, n).select(
        "doc_id", F.xxhash64("shingle").alias("h")
    )


def _h60(col):
    """60-bit integer hash from the first 15 hex chars of md5 — the
    one keyed hash both Spark (conv(hex,16,10)) and DuckDB
    (CAST('0x…' AS BIGINT)) compute bit-identically, which lets
    minhash/simhash outputs be verified value-for-value by the DuckDB
    oracle.  xxhash64 stays on paths where hash values never reach
    the output (plain Jaccard)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


_H60_DUCK = "CAST(CONCAT('0x', SUBSTR(md5({col}), 1, 15)) AS BIGINT)"


def _md5_shingles(d: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, h) with the cross-engine 60-bit md5 shingle hash."""
    return _shingles(d, n).select("doc_id", _h60("shingle").alias("h"))


_SHINGLE_HH_DUCK = """
sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           UNNEST(list_transform(
             generate_series(1, LEN(string_split(text, ' ')) - 2),
             i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
           )) AS shingle
    FROM documents
  )
),
hh AS (
  SELECT DISTINCT doc_id,
         CAST(CONCAT('0x', SUBSTR(md5(shingle), 1, 15)) AS BIGINT) AS h
  FROM sh
)"""


def doc_ngram_jaccard_pairs(
    spark: SparkSession, sf_dir: str, threshold: float = 0.25, n: int = 3,
    max_postings: Optional[int] = None,
) -> DataFrame:
    """Near-duplicate pairs by exact word-3-gram Jaccard ≥ threshold.

    Inverted-index join: explode distinct shingles, self-join on the
    shingle (docs sharing no shingle never pair), count intersections,
    then |A∩B| / (|A|+|B|−|A∩B|).

    ``max_postings`` is the hot-shingle mitigation for scale: a
    shingle appearing in k docs emits C(k,2) candidate pairs, so one
    stop-phrase shared by 1M docs would alone emit 5·10¹¹ pairs.
    Capping the postings list drops only those super-common shingles —
    they carry almost no Jaccard signal for high-similarity pairs (a
    pair at threshold τ shares ≥ τ/(1+τ) of its shingles, so losing
    the few universal ones barely moves the ratio) — at the cost of
    slightly underestimating intersections.  The GATE entry is
    ``doc_ngram_jaccard_capped`` (cap active — the shape a 100 TB
    deployment runs); this uncapped exact variant is an ORACLE/test
    utility only (demoted from ``queries()`` in round 9: an uncapped
    all-pairs operator must not be reachable from the production
    surface).
    """
    d = _docs(spark, sf_dir)
    sh = cache_intermediate(_hashed_shingles(d, n))
    sizes = sh.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_sh"))
    # inverted index as ONE shuffle: group docs per shingle bucket,
    # emit the C(k,2) pairs inside each bucket with a double explode
    # (a self-join on h would shuffle the exploded shingle table twice
    # and sort-merge; this shuffles it once).
    buckets = sh.groupBy("h").agg(F.collect_set("doc_id").alias("ds"))
    if max_postings is not None:
        buckets = buckets.filter(F.size("ds") <= max_postings)
    inter = (
        buckets.select(F.explode("ds").alias("doc_a"), "ds")
        .select("doc_a", F.explode("ds").alias("doc_b"))
        .filter(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("n_b"))
    jac = (
        inter.join(F.broadcast(sa), "doc_a")
        .join(F.broadcast(sb), "doc_b")
        .withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
        
    )
    return jac


def doc_ngram_jaccard_capped(
    spark: SparkSession, sf_dir: str, threshold: float = 0.25, n: int = 3,
    max_postings: int = 4,
) -> DataFrame:
    """The 100 TB-shaped Jaccard variant: same inverted-index plan but
    with the hot-shingle postings cap ACTIVE (shingles shared by more
    than ``max_postings`` docs are dropped before pair generation,
    bounding each bucket's pair fan-out at C(cap, 2)).  Declared as its
    own gate query so the capped path — the one a real deployment
    runs — is oracle-verified, not just the exact path."""
    return doc_ngram_jaccard_pairs(
        spark, sf_dir, threshold=threshold, n=n, max_postings=max_postings
    )


DOC_NGRAM_JACCARD_CAPPED_SQL = """
WITH sh AS (
  SELECT DISTINCT doc_id, shingle
  FROM (
    SELECT doc_id,
           UNNEST(list_transform(
             generate_series(1, LEN(string_split(text, ' ')) - 2),
             i -> array_to_string(string_split(text, ' ')[i:i+2], ' ')
           )) AS shingle
    FROM documents
  )
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
ok AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 4),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_inter
  FROM sh a
  JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  JOIN ok o ON o.shingle = a.shingle
  GROUP BY 1, 2
)
SELECT doc_a, doc_b,
       ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= 0.25
ORDER BY doc_a, doc_b
"""


def doc_minhash_lsh_pairs(
    spark: SparkSession,
    sf_dir: str,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.25,
    n: int = 3,
) -> DataFrame:
    """MinHash + banded LSH candidate generation, exact-Jaccard verify.

    Signature: ``minhash_j(doc) = min over shingles of
    (a_j·h60(shingle) + b_j) mod p`` with fixed (a_j, b_j) drawn
    deterministically from j and h60 the md5-derived 60-bit hash —
    reproducible across runs AND engines, so the ENTIRE pipeline
    (candidates included) has a DuckDB oracle.
    Bands of ``num_hashes/bands`` rows each; docs colliding on any
    band's full sub-signature become candidates; candidates are
    verified with exact Jaccard so the output has no false positives
    (only the recall is approximate).  At 100 TB the band join
    replaces the quadratic shingle self-join with group-by-bucket.

    The result relation is memoized per (session, sf_dir, params):
    the pair list is the shared upstream of ``doc_dedup_clusters``,
    ``doc_dedup_keep_best`` and ``doc_split_leakage``, and mining it
    once per session is the compose-don't-recompute contract.
    """
    return memo_relation(
        spark, sf_dir,
        ("minhash_pairs", sf_dir, num_hashes, bands, threshold, n),
        lambda: minhash_lsh_pairs(
            _docs(spark, sf_dir),
            num_hashes=num_hashes,
            bands=bands,
            threshold=threshold,
            n=n,
        ),
    )


def minhash_signatures(
    d: DataFrame, num_hashes: int = 32, n: int = 3
) -> DataFrame:
    """(doc_id, mh_0..mh_{num_hashes-1}, hs): per-doc MinHash
    signature columns plus the sorted shingle-hash set (the
    exact-verify side).  ``minhash_j(doc) = min over shingles of
    ((2j+1)·h + 7919(j+1)) mod p`` — deterministic per-j coefficients
    over the md5-derived 60-bit shingle hash, reproducible across
    engines."""
    sh = _md5_shingles(d, n)
    h = F.pmod(F.col("h"), F.lit(_MERSENNE))
    sig_cols = [
        F.min(
            F.pmod(
                (F.lit(2 * j + 1) * h + F.lit(7919 * (j + 1))), F.lit(_MERSENNE)
            )
        ).alias(f"mh_{j}")
        for j in range(num_hashes)
    ]
    return sh.groupBy("doc_id").agg(
        *sig_cols, F.array_sort(F.collect_set("h")).alias("hs")
    )


def minhash_lsh_pairs(
    d: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.25,
    n: int = 3,
) -> DataFrame:
    """Core MinHash+LSH pipeline over any (doc_id, text) DataFrame —
    see doc_minhash_lsh_pairs for semantics.  Split out so the scale
    smoke can drive it with executor-side synthetic corpora."""
    # ONE per-doc aggregation feeds every downstream branch: the band
    # sub-signatures AND the sorted shingle-hash set used by the
    # exact-Jaccard verify — one corpus scan + one shuffle total.  The
    # combined table is cached (bounded registry, not a bare persist)
    # because the band self-join and the two verify joins each re-read
    # it.
    sigs = cache_intermediate(minhash_signatures(d, num_hashes, n))
    banded = _banded_signatures(sigs, num_hashes, bands)

    a = banded.alias("a")
    b = banded.alias("b")
    candidates = (
        a.join(b, on=["band", "bucket"])
        .filter(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    return _verify_candidates(candidates, sigs, threshold)


def _banded_signatures(
    sigs: DataFrame, num_hashes: int, bands: int
) -> DataFrame:
    """(doc_id, band, bucket) band sub-signature rows.  Bucket key =
    the band's sub-signature joined as a string — engine-neutral
    (Spark's murmur ``F.hash`` has no DuckDB equivalent)."""
    rows_per_band = num_hashes // bands
    band_structs = [
        F.struct(
            F.lit(band).alias("band"),
            F.concat_ws(
                "-",
                *[
                    F.col(f"mh_{band * rows_per_band + r}")
                    for r in range(rows_per_band)
                ],
            ).alias("bucket"),
        )
        for band in range(bands)
    ]
    return sigs.select(
        "doc_id", F.explode(F.array(*band_structs)).alias("bb")
    ).select(
        "doc_id",
        F.col("bb.band").alias("band"),
        F.col("bb.bucket").alias("bucket"),
    )


def _verify_candidates(
    candidates: DataFrame, sigs: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verify: join the (small) candidate-pair set
    against the per-doc sorted shingle-hash sets already computed in
    ``sigs``.  Candidates drive the join — the quadratic shingle
    self-join never runs; each side is one shuffle of the candidate
    ids against the doc-keyed set table.  This is the 100 TB shape:
    |candidates| ≪ |all sharing pairs| by LSH design."""
    docsets = sigs.select("doc_id", "hs")
    verified = (
        candidates.join(
            docsets.select(
                F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")
            ),
            "doc_a",
        )
        .join(
            docsets.select(
                F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("n_inter"),
            F.size("hs_a").alias("n_a"),
            F.size("hs_b").alias("n_b"),
        )
    )
    return (
        verified.withColumn(
            "jaccard",
            F.round(
                F.col("n_inter").cast("double")
                / (F.col("n_a") + F.col("n_b") - F.col("n_inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


# ----------------------------------------------------------------------
# incremental / cross-run dedup ledger (batch)
# ----------------------------------------------------------------------
def incremental_minhash_pairs(
    store_sigs,
    new_docs: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.25,
    n: int = 3,
):
    """Delta-mine near-dup pairs for a NEW corpus shard against a
    persisted MinHash signature store — the batch twin of the
    streaming URL ledger: today's shard does NOT re-mine the full
    historical corpus.

    Returns ``(delta_pairs, all_sigs)``: the verified pairs that
    involve at least one new document, and the updated signature
    store (old ∪ new) to persist for the next shard
    (``write_signature_store``).

    Correctness: a MinHash band collision is a property of the TWO
    signatures alone, so mining each pair exactly once — at the step
    where its later document arrives — reproduces the full recompute
    EXACTLY: ∪ᵢ delta(shardᵢ | shards₁..ᵢ) == pairs(whole corpus).
    The gate row's oracle IS the full recompute, so the driver
    certifies that equality at every SF.

    Scale shape: signatures are computed for the SHARD only (the
    store rides as-is); the candidate join probes the store's banded
    table with shard-sized keys, so delta cost follows |shard|, not
    |corpus| — persist the store bucketed on the band key
    (``write_signature_store``'s layout note) and the probe becomes a
    co-located join with no store-side shuffle.

    Reference analog: none (pure [EXT]).
    """
    new_sigs = cache_intermediate(
        minhash_signatures(new_docs, num_hashes, n)
    )
    all_sigs = (
        new_sigs
        if store_sigs is None
        else cache_intermediate(store_sigs.unionByName(new_sigs))
    )
    banded_new = _banded_signatures(new_sigs, num_hashes, bands)
    banded_all = _banded_signatures(all_sigs, num_hashes, bands)
    candidates = (
        banded_new.alias("a")
        .join(banded_all.alias("b"), on=["band", "bucket"])
        .filter(F.col("a.doc_id") != F.col("b.doc_id"))
        .select(
            F.least(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_a"),
            F.greatest(F.col("a.doc_id"), F.col("b.doc_id")).alias("doc_b"),
        )
        .distinct()
    )
    return _verify_candidates(candidates, all_sigs, threshold), all_sigs


def write_signature_store(sigs: DataFrame, path: str) -> None:
    """Persist a MinHash signature store shard (append mode — each
    ingest run adds its shard's signatures).  At cluster scale, write
    through ``bucketBy(n, "doc_id")`` into a table so the per-shard
    candidate probe and verify joins co-locate without shuffling the
    historical store; plain parquet keeps the sandbox test
    hermetic."""
    sigs.write.mode("append").parquet(path)


def read_signature_store(spark: SparkSession, path: str) -> DataFrame:
    """Load the persisted signature store (None-safe companion of
    ``incremental_minhash_pairs``)."""
    return spark.read.parquet(path)


def doc_incremental_dedup(
    spark: SparkSession,
    sf_dir: str,
    n_shards: int = 3,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.25,
    n: int = 3,
) -> DataFrame:
    """Gate query: the corpus arrives as ``n_shards`` deterministic
    shards (``doc_id % n_shards``); each shard is delta-mined against
    the accumulated signature store and the deltas are unioned, each
    pair tagged with the shard that minted it (= the later doc's
    shard by construction).  The oracle is the FULL recompute — the
    incremental path must reproduce it exactly (pair for pair,
    jaccard for jaccard), which is the ledger's correctness
    contract.

    The unioned delta relation is memoized per (session, sf_dir,
    params): one invocation runs ``n_shards`` signature+delta passes
    (the demo's whole point), and repeated runs (bench min-of-N,
    compositions) pay driver plan assembly only."""

    def _build() -> DataFrame:
        d = _docs(spark, sf_dir)
        store = None
        deltas = []
        for shard in range(n_shards):
            shard_docs = d.filter(
                F.pmod(F.col("doc_id"), F.lit(n_shards)) == shard
            )
            delta, store = incremental_minhash_pairs(
                store,
                shard_docs,
                num_hashes=num_hashes,
                bands=bands,
                threshold=threshold,
                n=n,
            )
            deltas.append(
                delta.withColumn("minted_shard", F.lit(shard).cast("bigint"))
            )
        out = deltas[0]
        for nxt in deltas[1:]:
            out = out.unionByName(nxt)
        return out

    return memo_relation(
        spark, sf_dir,
        ("incremental_dedup", sf_dir, n_shards, num_hashes, bands, threshold, n),
        _build,
    )


def _incremental_dedup_sql(n_shards: int = 3) -> str:
    """Full-recompute oracle: identical pair list to DOC_MINHASH_SQL
    plus the shard that the incremental path mints each pair at —
    structurally ``greatest(doc_a % k, doc_b % k)`` (a pair is minted
    when its LATER shard arrives)."""
    return f"""
WITH {_minhash_ctes()}
SELECT doc_a, doc_b, jaccard,
       CAST(greatest(doc_a % {n_shards}, doc_b % {n_shards}) AS BIGINT)
         AS minted_shard
FROM mh_pairs
ORDER BY doc_a, doc_b
"""


def doc_simhash(spark: SparkSession, sf_dir: str, bits: int = 16) -> DataFrame:
    """Per-doc SimHash signature: sign-sum of token-hash bits.

    bit_b(doc) = 1 iff Σ_tokens (bit_b(h60(token)) ? +1 : −1) > 0,
    with h60 the md5-derived cross-engine hash so the signature is
    verified value-for-value by the DuckDB oracle.  Near-dup
    candidates are docs whose signatures differ in ≤k bits — found by
    exact-match join on signature rotations.
    """
    d = _docs(spark, sf_dir)
    tok = d.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("token")
    )
    h = _h60("token")
    bit_sums = [
        F.sum(
            F.when(F.shiftright(h, b).bitwiseAND(F.lit(1)) == 1, 1).otherwise(-1)
        ).alias(f"b{b}")
        for b in range(bits)
    ]
    sums = tok.groupBy("doc_id").agg(*bit_sums)
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"b{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return sums.select("doc_id", sig.cast("bigint").alias("simhash"))


def _minhash_ctes(
    num_hashes: int = 32, bands: int = 8, threshold: float = 0.25
) -> str:
    """The shared CTE chain of the minhash oracle (shingles → h60 →
    signatures → band buckets → candidates → exact verify), ending in
    ``mh_pairs(doc_a, doc_b, jaccard)`` — composed by the pair-list
    oracle itself and by the calibration oracle, which additionally
    reads the ``sig`` CTE."""
    rpb = num_hashes // bands
    p = _MERSENNE
    sig_exprs = ",\n         ".join(
        f"MIN((({2 * j + 1} * (h % {p})) + {7919 * (j + 1)}) % {p}) AS mh_{j}"
        for j in range(num_hashes)
    )
    band_selects = "\n  UNION ALL\n".join(
        "  SELECT doc_id, {b} AS band, CONCAT({cols}) AS bucket FROM sig".format(
            b=band,
            cols=", '-', ".join(
                f"mh_{band * rpb + r}" for r in range(rpb)
            ),
        )
        for band in range(bands)
    )
    return f"""{_SHINGLE_HH_DUCK.strip()},
sig AS (
  SELECT doc_id,
         {sig_exprs}
  FROM hh GROUP BY doc_id
),
banded AS (
{band_selects}
),
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM banded a JOIN banded b
    ON a.band = b.band AND a.bucket = b.bucket AND a.doc_id < b.doc_id
),
sizes AS (SELECT doc_id, COUNT(*) AS n_sh FROM hh GROUP BY doc_id),
inter AS (
  SELECT c.doc_a, c.doc_b, COUNT(*) AS n_inter
  FROM cand c
  JOIN hh a ON a.doc_id = c.doc_a
  JOIN hh b ON b.doc_id = c.doc_b AND b.h = a.h
  GROUP BY 1, 2
),
mh_pairs AS (
  SELECT doc_a, doc_b,
         ROUND(CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
  FROM inter
  JOIN sizes sa ON sa.doc_id = doc_a
  JOIN sizes sb ON sb.doc_id = doc_b
  WHERE CAST(n_inter AS DOUBLE) / (sa.n_sh + sb.n_sh - n_inter) >= {threshold}
)"""


def _minhash_sql(
    num_hashes: int = 32, bands: int = 8, threshold: float = 0.25
) -> str:
    """DuckDB oracle for the FULL minhash pipeline (signatures, band
    collisions, exact verify) — possible because every hash involved
    is the md5-derived h60 both engines compute identically."""
    return f"""
WITH {_minhash_ctes(num_hashes, bands, threshold)}
SELECT doc_a, doc_b, jaccard FROM mh_pairs
ORDER BY doc_a, doc_b
"""


DOC_MINHASH_SQL = _minhash_sql()
DOC_INCREMENTAL_DEDUP_SQL = _incremental_dedup_sql()


def _simhash_sql(bits: int = 16) -> str:
    bit_sums = ",\n         ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(bits)
    )
    sig = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits)
    )
    return f"""
WITH tok AS (
  SELECT doc_id, UNNEST(string_split(text, ' ')) AS token FROM documents
),
h AS (
  SELECT doc_id, {_H60_DUCK.format(col='token')} AS h FROM tok
),
sums AS (
  SELECT doc_id,
         {bit_sums}
  FROM h GROUP BY doc_id
)
SELECT doc_id, CAST({sig} AS BIGINT) AS simhash FROM sums ORDER BY doc_id
"""


DOC_SIMHASH_SQL = _simhash_sql()


def doc_simhash_near_pairs(
    spark: SparkSession, sf_dir: str, bits: int = 16, k: int = 2
) -> DataFrame:
    """Near-duplicate pairs by SimHash hamming distance ≤ ``k`` — the
    scalable pair-mining stage the ``doc_simhash`` docstring promises.

    Pigeonhole block join: split the ``bits``-bit signature into
    ``k+1`` blocks; any pair within hamming ``k`` has at most ``k``
    differing bits, so at least one block matches EXACTLY.  Join on
    (block_id, block_value) — an equi-join Spark shuffles by key, no
    quadratic all-pairs stage — then verify the exact hamming with one
    ``bit_count(xor)``.  Unlike MinHash/LSH this is exact-recall: the
    block cover guarantees every qualifying pair is a candidate, so
    the output equals the brute-force self-join (which is exactly what
    the DuckDB oracle runs).

    The pair relation is memoized per (session, sf_dir, params): it is
    the shared upstream of its own gate row and
    ``doc_dedup_consensus`` (compose, don't recompute).
    """
    return memo_relation(
        spark, sf_dir,
        ("simhash_near_pairs", sf_dir, bits, k),
        lambda: simhash_near_pairs(doc_simhash(spark, sf_dir, bits), bits, k),
    )


def simhash_near_pairs(
    sig: DataFrame, bits: int = 16, k: int = 2
) -> DataFrame:
    """Core pigeonhole block join over any (doc_id, simhash) DataFrame
    — see ``doc_simhash_near_pairs`` for semantics.  Split out so the
    adversarial-skew test can drive it with a synthetic hot-key
    corpus.

    Skew note: a corpus of near-identical documents concentrates one
    (block_id, block_val) key; the equi-join then leans on AQE's
    skew-join split (enabled in ``session.get_spark``) to fan the hot
    partition out.  Candidate volume within the hot key is inherently
    quadratic — as it must be, since all those pairs genuinely
    qualify and exact recall is the contract."""
    nblocks = k + 1
    width = bits // nblocks
    blocks = []
    for i in range(nblocks):
        lo = i * width
        w = width if i < nblocks - 1 else bits - lo
        blocks.append(
            F.struct(
                F.lit(i).alias("block_id"),
                F.shiftright(F.col("simhash"), lo)
                .bitwiseAND(F.lit((1 << w) - 1))
                .alias("block_val"),
            )
        )
    exploded = sig.select(
        "doc_id", "simhash", F.explode(F.array(*blocks)).alias("b")
    ).select("doc_id", "simhash", "b.block_id", "b.block_val")
    left = exploded.select(
        "block_id",
        "block_val",
        F.col("doc_id").alias("doc_a"),
        F.col("simhash").alias("sig_a"),
    )
    right = exploded.select(
        "block_id",
        "block_val",
        F.col("doc_id").alias("doc_b"),
        F.col("simhash").alias("sig_b"),
    )
    hamming = F.bit_count(
        F.col("sig_a").bitwiseXOR(F.col("sig_b"))
    ).cast("bigint")
    return (
        left.join(right, ["block_id", "block_val"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", hamming.alias("hamming"))
        .filter(F.col("hamming") <= k)
        .distinct()
    )


def _simhash_near_pairs_sql(bits: int = 16, k: int = 2) -> str:
    base = _simhash_sql(bits).strip().rstrip()
    # reuse the signature CTE; brute-force verify (the oracle's O(n²)
    # is fine at oracle scale and proves the block cover loses nothing)
    base_cte = base[: base.rindex("SELECT doc_id,")]
    return f"""{base_cte}
, sigs AS (
  SELECT doc_id, CAST({" + ".join(f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(bits))} AS BIGINT) AS simhash
  FROM sums
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {k}
ORDER BY doc_a, doc_b
"""


DOC_SIMHASH_NEAR_PAIRS_SQL = _simhash_near_pairs_sql()


def doc_embedding_dups(
    spark: SparkSession,
    sf_dir: str,
    threshold: float = 0.4,
    pairs: Optional[DataFrame] = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate detection over ``documents``
    (the last rung of the dedup ladder: semantic, not lexical).

    ``embeddings.vec_id`` is the document id; candidate pairs come
    from the random-hyperplane LSH (linear cost), are verified by
    exact cosine ≥ threshold, then joined back to ``documents`` for
    the dedup decision: keep the lower doc_id, drop the higher.
    Both joins are id-keyed shuffles against the (small) survivor
    set — at 100 TB the document payload never rides through the
    pair-mining stage.

    ``pairs`` lets callers supply a precomputed (vec_a, vec_b, cosine)
    pair relation — e.g. the occupancy-derived-plane production miner,
    whereas the default (gate) miner pins the 4-plane oracle literal
    that only the small oracle corpus can afford.
    """
    from meteaudata_spark.ext import simsearch

    if pairs is None:
        pairs = simsearch.emb_lsh_near_pairs(
            spark, sf_dir, threshold=threshold
        )
    d = _docs(spark, sf_dir).select("doc_id", "lang", "n_chars")
    return (
        pairs.join(
            d.select(
                F.col("doc_id").alias("vec_a"),
                F.col("lang").alias("lang_keep"),
                F.col("n_chars").alias("n_chars_keep"),
            ),
            "vec_a",
        )
        .join(d.select(F.col("doc_id").alias("vec_b")), "vec_b")
        .select(
            F.col("vec_a").alias("kept_doc_id"),
            F.col("vec_b").alias("dropped_doc_id"),
            "cosine",
            "lang_keep",
            "n_chars_keep",
        )
    )


def _embedding_dups_sql(threshold: float = 0.4) -> str:
    from meteaudata_spark.ext import simsearch

    near = simsearch._lsh_near_pairs_sql(threshold=threshold).strip()
    # strip the trailing ORDER BY of the inner query
    near = near[: near.rindex("ORDER BY")]
    return f"""
WITH pairs AS (
{near}
)
SELECT p.vec_a AS kept_doc_id, p.vec_b AS dropped_doc_id, p.cosine,
       d.lang AS lang_keep, d.n_chars AS n_chars_keep
FROM pairs p
JOIN documents d ON d.doc_id = p.vec_a
JOIN documents d2 ON d2.doc_id = p.vec_b
ORDER BY kept_doc_id, dropped_doc_id
"""


DOC_EMBEDDING_DUPS_SQL = _embedding_dups_sql()


# ----------------------------------------------------------------------
# multi-signal consensus dedup
# ----------------------------------------------------------------------
def doc_dedup_consensus(
    spark: SparkSession,
    sf_dir: str,
    min_signals: int = 2,
    cos_threshold: float = 0.4,
    minhash_pairs: Optional[DataFrame] = None,
    simhash_pairs: Optional[DataFrame] = None,
    embedding_pairs: Optional[DataFrame] = None,
) -> DataFrame:
    """Multi-signal near-duplicate consensus: a pair is a duplicate
    only when at least ``min_signals`` of the three independent
    detectors agree — MinHash exact-verified Jaccard (lexical set
    overlap), SimHash hamming (lexical bag-of-words), embedding
    cosine (semantic).  Any single miner has a characteristic
    failure mode (MinHash misses bag-level paraphrase, SimHash's
    short signature collides coarsely, embeddings conflate topical
    with textual similarity); requiring agreement is the standard
    production guard against over-deletion in training-data dedup.

    Plan shape: the three pair relations are each session-memoized
    (mined once per corpus), then combined with two keyed FULL OUTER
    joins on (doc_a, doc_b) — pair lists are tiny next to the corpus,
    so at 100 TB this adds two small equi-joins on top of mining that
    already ran for the per-signal operators.  Null signal columns
    mean "that detector did not flag the pair".

    Reference analog: none (pure [EXT]).
    """
    from meteaudata_spark.ext import simsearch

    mh = (
        minhash_pairs
        if minhash_pairs is not None
        else doc_minhash_lsh_pairs(spark, sf_dir)
    ).select("doc_a", "doc_b", "jaccard")
    sh = (
        simhash_pairs
        if simhash_pairs is not None
        else doc_simhash_near_pairs(spark, sf_dir)
    ).select("doc_a", "doc_b", "hamming")
    em = (
        embedding_pairs
        if embedding_pairs is not None
        else simsearch.emb_lsh_near_pairs(
            spark, sf_dir, threshold=cos_threshold
        )
    ).select(
        F.col("vec_a").alias("doc_a"),
        F.col("vec_b").alias("doc_b"),
        "cosine",
    )
    j = mh.join(sh, ["doc_a", "doc_b"], "full_outer").join(
        em, ["doc_a", "doc_b"], "full_outer"
    )
    n_signals = (
        F.col("jaccard").isNotNull().cast("int")
        + F.col("hamming").isNotNull().cast("int")
        + F.col("cosine").isNotNull().cast("int")
    ).cast("bigint")
    return (
        j.withColumn("n_signals", n_signals)
        .filter(F.col("n_signals") >= min_signals)
        .select("doc_a", "doc_b", "n_signals", "jaccard", "hamming", "cosine")
    )


def _dedup_consensus_sql(
    min_signals: int = 2, cos_threshold: float = 0.4
) -> str:
    from meteaudata_spark.ext import simsearch

    mh = DOC_MINHASH_SQL.strip()
    mh = mh[: mh.rindex("ORDER BY")]
    sh = DOC_SIMHASH_NEAR_PAIRS_SQL.strip()
    sh = sh[: sh.rindex("ORDER BY")]
    em = simsearch._lsh_near_pairs_sql(threshold=cos_threshold).strip()
    em = em[: em.rindex("ORDER BY")]
    return f"""
WITH mh AS (
{mh}
),
sh AS (
{sh}
),
em AS (
{em}
),
lex AS (
  SELECT COALESCE(m.doc_a, s.doc_a) AS doc_a,
         COALESCE(m.doc_b, s.doc_b) AS doc_b,
         m.jaccard, s.hamming
  FROM mh m
  FULL OUTER JOIN sh s ON s.doc_a = m.doc_a AND s.doc_b = m.doc_b
),
allsig AS (
  SELECT COALESCE(l.doc_a, e.vec_a) AS doc_a,
         COALESCE(l.doc_b, e.vec_b) AS doc_b,
         l.jaccard, l.hamming, e.cosine
  FROM lex l
  FULL OUTER JOIN em e ON e.vec_a = l.doc_a AND e.vec_b = l.doc_b
)
SELECT doc_a, doc_b,
       CAST((CASE WHEN jaccard IS NOT NULL THEN 1 ELSE 0 END)
          + (CASE WHEN hamming IS NOT NULL THEN 1 ELSE 0 END)
          + (CASE WHEN cosine IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_signals,
       jaccard, hamming, cosine
FROM allsig
WHERE (CASE WHEN jaccard IS NOT NULL THEN 1 ELSE 0 END)
    + (CASE WHEN hamming IS NOT NULL THEN 1 ELSE 0 END)
    + (CASE WHEN cosine IS NOT NULL THEN 1 ELSE 0 END) >= {min_signals}
ORDER BY doc_a, doc_b
"""


DOC_DEDUP_CONSENSUS_SQL = _dedup_consensus_sql()


# ----------------------------------------------------------------------
# minhash signature calibration (sketch-accuracy QA)
# ----------------------------------------------------------------------
def doc_minhash_calibration(
    spark: SparkSession,
    sf_dir: str,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.25,
    n: int = 3,
) -> DataFrame:
    """Sketch-accuracy QA for the MinHash signature: on every mined
    pair, compare the SIGNATURE Jaccard estimate (fraction of the
    ``num_hashes`` components that agree — what a signature-only
    pipeline would act on) against the exact shingle-set Jaccard the
    verify stage computed.  The per-pair absolute error is the
    number that justifies — or indicts — skipping exact verification
    at scale, and it drifts when doc length or shingle distribution
    changes, so production dedup pipelines track it continuously.

    Plan shape: the mined pair list (memoized) joins the per-doc
    signature relation (memoized, one corpus aggregation) twice by
    doc id — two keyed equi-joins over a pair list that is tiny next
    to the corpus; the agreement count is a fixed-width JVM
    expression over the signature columns.  All outputs micro-
    quantized integers, so the DuckDB oracle is value-exact.

    Reference analog: none (pure [EXT]).
    """
    pairs = doc_minhash_lsh_pairs(
        spark, sf_dir, num_hashes, bands, threshold, n
    )
    sigs = memo_relation(
        spark, sf_dir,
        ("minhash_sigs", sf_dir, num_hashes, n),
        lambda: minhash_signatures(_docs(spark, sf_dir), num_hashes, n),
    )
    sa = sigs.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{j}").alias(f"ma_{j}") for j in range(num_hashes)],
    )
    sb = sigs.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{j}").alias(f"mb_{j}") for j in range(num_hashes)],
    )
    n_match = None
    for j in range(num_hashes):
        term = (F.col(f"ma_{j}") == F.col(f"mb_{j}")).cast("int")
        n_match = term if n_match is None else n_match + term
    est_micros = F.round(
        n_match.cast("double") * 1000000.0 / num_hashes
    ).cast("bigint")
    exact_micros = F.round(F.col("jaccard") * 1000000.0).cast("bigint")
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            n_match.cast("bigint").alias("n_match"),
            est_micros.alias("est_micros"),
            exact_micros.alias("exact_micros"),
            F.abs(est_micros - exact_micros).alias("err_micros"),
        )
    )


def _minhash_calibration_sql(
    num_hashes: int = 32, bands: int = 8, threshold: float = 0.25
) -> str:
    agree = " + ".join(
        f"(CASE WHEN a.mh_{j} = b.mh_{j} THEN 1 ELSE 0 END)"
        for j in range(num_hashes)
    )
    return f"""
WITH {_minhash_ctes(num_hashes, bands, threshold)},
est AS (
  SELECT p.doc_a, p.doc_b, p.jaccard,
         {agree} AS n_match
  FROM mh_pairs p
  JOIN sig a ON a.doc_id = p.doc_a
  JOIN sig b ON b.doc_id = p.doc_b
)
SELECT doc_a, doc_b,
       CAST(n_match AS BIGINT) AS n_match,
       CAST(round(CAST(n_match AS DOUBLE) * 1000000.0 / {num_hashes}) AS BIGINT) AS est_micros,
       CAST(round(jaccard * 1000000.0) AS BIGINT) AS exact_micros,
       CAST(abs(round(CAST(n_match AS DOUBLE) * 1000000.0 / {num_hashes})
              - round(jaccard * 1000000.0)) AS BIGINT) AS err_micros
FROM est
ORDER BY doc_a, doc_b
"""


DOC_MINHASH_CALIBRATION_SQL = _minhash_calibration_sql()


# ----------------------------------------------------------------------
# near-duplicate cluster assignment (connected components)
# ----------------------------------------------------------------------
def dedup_clusters(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Connected components over a near-dup pair list → one cluster id
    (the component's minimum doc_id) per affected doc.

    Pairwise near-dup output is not directly usable for dedup — if
    A~B and B~C, keeping "the lower id of each pair" keeps A and
    drops both B and C only if transitivity is resolved.  This is the
    standard min-label-propagation component finder: every node
    starts labeled with itself; each round it takes the min of its
    own and its neighbors' labels; converged when no label changes.

    Scale shape: the edge list (near-dup pairs) is tiny relative to
    the corpus by construction, and each round is one neighbor-min
    join + one POINTER JUMP (relabel through the label's own label,
    doubling propagation distance) — O(E + V) per round, rounds =
    O(log diameter), so even adversarial chain-shaped components
    (templated documents each near-duplicating the next revision)
    converge inside the iteration cap.  ``localCheckpoint`` truncates
    the growing plan so round N doesn't replay rounds 1..N-1, the
    standard Spark iterative-algorithm pattern (GraphX/GraphFrames do
    the equivalent internally).  Driver-side state is one integer
    (the changed-count), never the data.
    """
    edges = pairs.select("doc_a", "doc_b")
    sym = edges.selectExpr("doc_a AS src", "doc_b AS dst").unionAll(
        edges.selectExpr("doc_b AS src", "doc_a AS dst")
    )
    sym = sym.localCheckpoint()
    labels = (
        sym.select("src")
        .distinct()
        .select(F.col("src").alias("node"), F.col("src").alias("lbl"))
        .localCheckpoint()
    )
    for it in range(max_iter):
        nl = (
            sym.join(labels, sym["dst"] == labels["node"])
            .select(F.col("src").alias("node"), F.col("lbl"))
            .groupBy("node")
            .agg(F.min("lbl").alias("nlbl"))
        )
        # carry the previous label through the checkpoint so the
        # convergence check is a filter-count on already-materialized
        # data — one job per iteration instead of two (join + count)
        stepped = labels.join(nl, "node", "left").select(
            "node",
            F.least(F.col("lbl"), F.coalesce("nlbl", F.col("lbl"))).alias(
                "lbl"
            ),
            F.col("lbl").alias("__prev"),
        )
        # pointer jump: a label is itself a node of the component, so
        # relabeling through ITS label doubles the distance a minimum
        # travels per round — chain components converge in O(log D).
        # Skipped in round 0: every label is still its own node there,
        # so the jump is an identity join (shallow gate-sized clusters
        # pay one less shuffle; deep chains lose nothing asymptotic).
        if it > 0:
            jump = stepped.select(
                F.col("node").alias("__jnode"), F.col("lbl").alias("__jlbl")
            )
            stepped = stepped.join(
                jump, stepped["lbl"] == jump["__jnode"], "left"
            ).select(
                "node",
                F.least(
                    F.col("lbl"), F.coalesce("__jlbl", F.col("lbl"))
                ).alias("lbl"),
                "__prev",
            )
        new_labels = stepped.localCheckpoint()
        changed = new_labels.filter(F.col("lbl") != F.col("__prev")).count()
        labels = new_labels.drop("__prev")
        if changed == 0:
            break
    sizes = labels.groupBy("lbl").agg(F.count(F.lit(1)).alias("cluster_size"))
    return (
        labels.join(sizes, "lbl")
        .select(
            F.col("node").alias("doc_id"),
            F.col("lbl").alias("cluster_id"),
            "cluster_size",
        )
    )


def doc_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: cluster assignment for every doc in a minhash
    near-dup pair.  Memoized per session — the cluster table is the
    shared upstream of ``doc_dedup_keep_best``, and the iterative
    component finder (localCheckpoint per round) is the expensive
    part worth computing once."""
    return memo_relation(
        spark, sf_dir,
        ("dedup_clusters", sf_dir),
        lambda: dedup_clusters(doc_minhash_lsh_pairs(spark, sf_dir)),
    )


def _dedup_clusters_sql() -> str:
    inner = _minhash_sql().strip()
    inner = inner[: inner.rindex("ORDER BY")]
    return f"""
WITH RECURSIVE pairs AS (
SELECT doc_a, doc_b FROM (
{inner}
) t
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION ALL
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
reach(node, lbl) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, r.lbl
  FROM edges e JOIN reach r ON e.dst = r.node
),
comp AS (SELECT node AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY node),
sizes AS (SELECT cluster_id, COUNT(*) AS cluster_size FROM comp GROUP BY cluster_id)
SELECT c.doc_id, c.cluster_id, s.cluster_size
FROM comp c JOIN sizes s ON c.cluster_id = s.cluster_id
ORDER BY c.doc_id
"""


DOC_DEDUP_CLUSTERS_SQL = _dedup_clusters_sql()


# ----------------------------------------------------------------------
# segment-level (C4/RefinedWeb-style line) dedup
# ----------------------------------------------------------------------
def segment_dedup(
    d: DataFrame,
    seg_words: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Sub-document exact dedup: C4's line-level dedup generalized to
    fixed-width word segments (our corpus has no newlines).

    Every document is cut into non-overlapping ``seg_words``-word
    segments; a segment survives only in its globally-first occurrence
    (lowest ``(doc_id, seg_idx)``), everywhere else it is dropped —
    the pass that strips boilerplate repeated across documents while
    keeping one copy.  Returns one row per doc with the total/kept
    segment counts and the md5 of the re-assembled deduplicated text.

    100 TB shape: one explode (narrow), ONE shuffle keyed on the
    segment hash for the first-occurrence window, then a per-doc
    hash-agg.  Per-segment groups are as small as the duplication
    factor; a corpus of identical boilerplate concentrates on single
    segment keys exactly like exact dedup does (AQE skew-split
    applies).  No driver state, no joins against the full corpus.
    Reference analog: none (pure [EXT]; the reference has no corpus
    operators).
    """
    from pyspark.sql import Window

    w = seg_words
    segs = (
        d.select(id_col, F.split(F.col(text_col), " ").alias("__toks"))
        .select(
            id_col,
            F.posexplode(
                F.expr(
                    f"transform(sequence(0, cast(ceil(size(__toks) / {w}.0) as int) - 1), "
                    f"i -> concat_ws(' ', slice(__toks, i * {w} + 1, {w})))"
                )
            ).alias("seg_idx", "segment"),
        )
    )
    first = Window.partitionBy("segment").orderBy(id_col, "seg_idx")
    marked = segs.withColumn("__rn", F.row_number().over(first)).withColumn(
        # NULL (skipped by collect_list) for dropped segments
        "__kept",
        F.when(F.col("__rn") == 1, F.struct("seg_idx", "segment")),
    )
    return (
        marked.groupBy(id_col)
        .agg(
            F.count(F.lit(1)).alias("n_segments"),
            F.sum((F.col("__rn") == 1).cast("bigint")).alias("n_kept"),
            F.md5(
                F.concat_ws(
                    " ",
                    F.expr(
                        "transform(array_sort(collect_list(__kept)), s -> s.segment)"
                    ),
                )
            ).alias("dedup_hash"),
        )
        .select(id_col, "n_segments", "n_kept", "dedup_hash")
    )


def doc_segment_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: 8-word segment dedup over the documents table."""
    return segment_dedup(_docs(spark, sf_dir), seg_words=8)


DOC_SEGMENT_DEDUP_SQL = """
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS t FROM documents
),
segs AS (
  SELECT doc_id, i - 1 AS seg_idx,
         array_to_string(t[(i - 1) * 8 + 1:(i - 1) * 8 + 8], ' ') AS segment
  FROM toks, UNNEST(generate_series(1, CAST(CEIL(LEN(t) / 8.0) AS BIGINT))) AS g(i)
),
ranked AS (
  SELECT doc_id, seg_idx, segment,
         ROW_NUMBER() OVER (PARTITION BY segment ORDER BY doc_id, seg_idx) AS rn
  FROM segs
)
SELECT doc_id,
       COUNT(*) AS n_segments,
       CAST(SUM(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN segment END, ' ' ORDER BY seg_idx), '')) AS dedup_hash
FROM ranked
GROUP BY doc_id
ORDER BY doc_id
"""


# ----------------------------------------------------------------------
# quality-aware survivor selection
# ----------------------------------------------------------------------
def doc_dedup_keep_best(
    spark: SparkSession,
    sf_dir: str,
    clusters: Optional[DataFrame] = None,
    quality: Optional[DataFrame] = None,
) -> DataFrame:
    """Quality-aware dedup decisions: within every near-dup cluster
    keep the HIGHEST-quality document (not the lowest id — real
    pipelines keep the best copy of boilerplate-heavy near-dups).

    Composition of the cluster finder (``dedup_clusters`` over the
    MinHash pairs) with the quality scorer
    (``textstats.doc_quality_score``): one keyed join, one
    per-cluster argmax (max_by with doc_id tiebreak for determinism).
    Returns one row per cluster: survivor, its quality, the cluster
    size, and how many docs the decision drops.

    COMPOSES, never recomputes (VERDICT r8 #3): callers may pass
    precomputed ``clusters`` (doc_id, cluster_id, …) and ``quality``
    (doc_id, quality_score) relations; otherwise the session-memoized
    ``doc_dedup_clusters`` / ``doc_quality_score`` results are reused,
    so this costs one join + one argmax beyond its upstreams.
    Reference analog: none (pure [EXT])."""
    from meteaudata_spark.ext import textstats

    if clusters is None:
        clusters = doc_dedup_clusters(spark, sf_dir)
    if quality is None:
        quality = textstats.doc_quality_score(spark, sf_dir)
    j = clusters.join(quality, "doc_id")
    # deterministic argmax: order by (quality desc, doc_id asc)
    best = F.expr(
        "max_by(struct(doc_id, quality_score), "
        "struct(quality_score, -doc_id))"
    )
    return (
        j.groupBy("cluster_id")
        .agg(
            best.getField("doc_id").alias("keep_doc_id"),
            _r6q(best.getField("quality_score")).alias("keep_quality"),
            F.count(F.lit(1)).alias("cluster_size"),
            (F.count(F.lit(1)) - 1).alias("n_dropped"),
        )
    )


def _r6q(col):
    return F.round(col * F.lit(1000000.0), 0) / F.lit(1000000.0)


def _dedup_keep_best_sql() -> str:
    clusters = _dedup_clusters_sql().strip()
    clusters = clusters[: clusters.rindex("ORDER BY")]
    # quality score inline (same formula as DOC_QUALITY_SQL)
    return f"""
WITH comp_rows AS (
{clusters}
),
q AS (
  SELECT doc_id,
         ROUND(
           LEAST(CAST(LEN(string_split(text, ' ')) AS DOUBLE) / 50.0, 1.0) * 0.4
           + (CAST(LEN(list_distinct(string_split(text, ' '))) AS DOUBLE)
              / LEN(string_split(text, ' '))) * 0.4
           + (CASE WHEN (CAST(LENGTH(text) AS DOUBLE) - LEN(string_split(text, ' ')) + 1)
                        / LEN(string_split(text, ' ')) BETWEEN 3.0 AND 10.0
                   THEN 1.0 ELSE 0.5 END) * 0.2,
         6) AS quality_score
  FROM documents
),
j AS (
  SELECT c.cluster_id, c.doc_id, q.quality_score
  FROM comp_rows c JOIN q USING (doc_id)
),
ranked AS (
  SELECT cluster_id, doc_id, quality_score,
         ROW_NUMBER() OVER (
           PARTITION BY cluster_id
           ORDER BY quality_score DESC, doc_id ASC
         ) AS rn,
         COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
  FROM j
)
SELECT cluster_id, doc_id AS keep_doc_id,
       ROUND(quality_score * 1000000.0) / 1000000.0 AS keep_quality,
       cluster_size, cluster_size - 1 AS n_dropped
FROM ranked WHERE rn = 1
ORDER BY cluster_id
"""


DOC_DEDUP_KEEP_BEST_SQL = _dedup_keep_best_sql()


def doc_substring_spans(
    spark: SparkSession, sf_dir: str, n_words: int = 8
) -> DataFrame:
    """Exact duplicate-SUBSTRING detection (the sub-document
    counterpart of ``segment_dedup``, and the distributed K-gram
    approximation of suffix-array ExactSubstr dedup): for every
    document, find the spans of ≥ ``n_words`` consecutive words whose
    content already occurred EARLIER in the corpus — earlier meaning a
    lexicographically smaller (doc_id, position), so repetitions
    *within* one document count too — and merge overlapping gram hits
    into maximal spans.

    Plan: positional gram explode (short-doc guarded) → first-
    occurrence window min on a (doc_id, pos) STRUCT key (exact
    lexicographic ordering at any doc length or id width — no
    arithmetic-packing bound), ONE scan like
    ``doc_ngram_novelty`` → per-doc gaps-and-islands span merge (two
    doc-keyed windows) → per-doc rollup left-joined back so clean
    documents report zeros.  Every shuffle is keyed on the gram or the
    doc id; nothing is quadratic — hot grams cost one window group,
    not a pair fan-out.

    Output: (doc_id, n_words, n_dup_spans, dup_words, dup_micros) —
    the per-doc duplicated-text budget a span-scrubbing pass would
    remove."""
    from pyspark.sql import Window

    k = n_words
    d = _docs(spark, sf_dir)
    nd = d.select(
        "doc_id", F.size(F.split(F.col("text"), " ")).alias("n_words")
    )
    # split(text) projected ONCE before the lambda (the ``_shingles``
    # rule: inside the lambda Catalyst re-evaluates it per gram index,
    # O(words²) per doc)
    grams = d.select(
        "doc_id", F.split(F.col("text"), " ").alias("__toks")
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(__toks) >= {k} THEN "
                f"transform(sequence(1, size(__toks) - {k - 1}), "
                f"i -> struct(i AS pos, "
                f"array_join(slice(__toks, i, {k}), ' ') AS gram)) "
                f"ELSE CAST(array() AS array<struct<pos:int, gram:string>>) END"
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    # first occurrence = lexicographic MIN over (doc_id, pos) structs —
    # exact at any doc length / id width (no arithmetic-packing bound)
    key = F.struct(F.col("doc_id"), F.col("pos"))
    dup = (
        grams.withColumn(
            "first_key", F.min(key).over(Window.partitionBy("gram"))
        )
        .filter(~key.eqNullSafe(F.col("first_key")))
        .select("doc_id", "pos")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    islands = dup.withColumn(
        "island",
        F.sum(
            F.when(
                prev_end.isNull() | (F.col("pos") > prev_end + 1), 1
            ).otherwise(0)
        ).over(wd.rowsBetween(Window.unboundedPreceding, 0)),
    )
    spans = islands.groupBy("doc_id", "island").agg(
        F.min("pos").alias("s"), (F.max("pos") + (k - 1)).alias("e")
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_dup_spans"),
        F.sum(F.col("e") - F.col("s") + 1).alias("dup_words"),
    )
    return (
        nd.join(per_doc, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_words").cast("bigint").alias("n_words"),
            F.coalesce("n_dup_spans", F.lit(0)).cast("bigint").alias("n_dup_spans"),
            F.coalesce("dup_words", F.lit(0)).cast("bigint").alias("dup_words"),
            F.round(
                F.coalesce("dup_words", F.lit(0))
                / F.col("n_words").cast("double")
                * 1000000.0
            ).cast("bigint").alias("dup_micros"),
        )
    )


DOC_SUBSTRING_SPANS_SQL = """
WITH ge AS (
  SELECT doc_id, s.pos AS pos, s.gram AS gram FROM (
    SELECT doc_id,
           UNNEST(list_transform(
             range(1, GREATEST(LEN(string_split(text, ' ')) - 7, 0) + 1),
             i -> struct_pack(pos := i,
                    gram := array_to_string(
                      list_slice(string_split(text, ' '), i, i + 7), ' '))
           )) AS s
    FROM documents
  )
),
dup AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos,
           struct_pack(doc_id := doc_id, pos := pos) AS key,
           MIN(struct_pack(doc_id := doc_id, pos := pos))
             OVER (PARTITION BY gram) AS first_key
    FROM ge
  ) WHERE key <> first_key
),
isl AS (
  SELECT doc_id, pos,
         SUM(newi) OVER (PARTITION BY doc_id ORDER BY pos) AS island
  FROM (
    SELECT doc_id, pos,
           CASE WHEN MAX(pos + 7) OVER (
                  PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) IS NULL
                OR pos > MAX(pos + 7) OVER (
                  PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                ) + 1
           THEN 1 ELSE 0 END AS newi
    FROM dup
  )
),
spans AS (
  SELECT doc_id, island, MIN(pos) AS s, MAX(pos) + 7 AS e
  FROM isl GROUP BY 1, 2
),
per_doc AS (
  SELECT doc_id, COUNT(*) AS n_dup_spans, SUM(e - s + 1) AS dup_words
  FROM spans GROUP BY 1
)
SELECT d.doc_id,
       CAST(LEN(string_split(d.text, ' ')) AS BIGINT) AS n_words,
       CAST(COALESCE(p.n_dup_spans, 0) AS BIGINT) AS n_dup_spans,
       CAST(COALESCE(p.dup_words, 0) AS BIGINT) AS dup_words,
       CAST(round(COALESCE(p.dup_words, 0)
                  / CAST(LEN(string_split(d.text, ' ')) AS DOUBLE)
                  * 1000000.0) AS BIGINT) AS dup_micros
FROM documents d LEFT JOIN per_doc p USING (doc_id)
ORDER BY d.doc_id
"""


def doc_winnow_fingerprints(
    spark: SparkSession, sf_dir: str, k: int = 4, w: int = 4
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken
    2003, the MOSS algorithm): hash every word ``k``-gram, slide a
    window of ``w`` consecutive hashes, and select the RIGHTMOST
    minimal hash per window — the classic guarantee that any shared
    run of ≥ ``w + k − 1`` words yields at least one shared
    fingerprint, at expected density 2/(w+1).  The report counts each
    document's fingerprints and how many are shared with any other
    document (the plagiarism/boilerplate signal MOSS ranks on).

    Plan: positional gram explode (split projected ONCE to ``__toks``
    — the ``_shingles`` rule, plan-guarded) → 60-bit md5 gram hash
    (``_h60``: the cross-engine-exact keyed hash) → ONE doc-keyed
    window min over a (hash, −pos) struct (rightmost-min tie rule
    rides the struct order; full windows only) → distinct selections
    per doc → hash-keyed share rollup (fingerprint-vocabulary-sized)
    → per-doc agg LEFT-joined so short documents report zeros.  Every
    shuffle is keyed on the doc id or the fingerprint hash; nothing
    pairwise.  100 TB shape: the window is per-doc (parallel in docs);
    the share rollup touches only selected fingerprints (~2/(w+1) of
    grams).  ``n_windows`` is the per-doc row count of the
    full-window selection relation itself (VERDICT r13 #2) — exactly
    one ``split`` per corpus scan, no re-tokenization of the corpus
    for the denominator; the count aggregates on the window's own
    doc_id partitioning, so it adds no exchange.

    Output: (doc_id, n_windows, n_fingerprints, n_shared_fp,
    density_bp, shared_bp).  Reference analog: none (pure [EXT])."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    grams = d.select(
        "doc_id", F.split(F.col("text"), " ").alias("__toks")
    ).select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"CASE WHEN size(__toks) >= {k} THEN "
                f"transform(sequence(1, size(__toks) - {k - 1}), "
                f"i -> array_join(slice(__toks, i, {k}), ' ')) "
                f"ELSE CAST(array() AS array<string>) END"
            )
        ).alias("pos0", "gram"),
    ).select(
        "doc_id", (F.col("pos0") + 1).alias("pos"), _h60("gram").alias("h")
    )
    wd = Window.partitionBy("doc_id")
    win = wd.orderBy("pos").rowsBetween(0, w - 1)
    sel = (
        grams.withColumn("n_grams", F.count(F.lit(1)).over(wd))
        .withColumn(
            "s",
            F.min(
                F.struct(F.col("h"), (-F.col("pos")).alias("negpos"))
            ).over(win),
        )
        .filter(F.col("pos") <= F.col("n_grams") - (w - 1))
    )
    # r14 batch 3 (guide §5): the tokenize→gram-hash→window chain is
    # referenced THREE times downstream (the fingerprint distinct
    # twice via fps, the window count once via nwin) — persist the
    # slim per-window selection once per call so the corpus pass runs
    # once, not once per consumer.  The persisted relation retains the
    # window's doc_id hash partitioning, so every doc-keyed aggregate
    # below it is exchange-free.
    from meteaudata_spark.plans.opcache import cache_intermediate

    perwin = cache_intermediate(
        sel.select(
            "doc_id",
            F.col("s.h").alias("h"),
            (-F.col("s.negpos")).alias("fp_pos"),
        )
    )
    fps = perwin.distinct()
    shared = fps.groupBy("h").agg(
        F.countDistinct("doc_id").alias("__nd")
    )
    perdoc = (
        fps.join(shared, "h")
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_fingerprints"),
            F.sum((F.col("__nd") >= 2).cast("bigint"))
            .cast("bigint")
            .alias("n_shared_fp"),
        )
    )
    # sel holds exactly the full windows (pos <= n_grams-(w-1)), so
    # its per-doc row count IS n_windows == max(n_toks-(k+w-2), 0);
    # docs too short for any gram/window join-miss and coalesce to 0
    nwin = perwin.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows")
    )
    return (
        d.select("doc_id")
        .join(nwin, "doc_id", "left")
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_windows", F.lit(0))
            .cast("bigint")
            .alias("n_windows"),
            F.coalesce("n_fingerprints", F.lit(0))
            .cast("bigint")
            .alias("n_fingerprints"),
            F.coalesce("n_shared_fp", F.lit(0))
            .cast("bigint")
            .alias("n_shared_fp"),
            F.expr(
                "coalesce(n_fingerprints, 0) * 10000"
                " div nullif(n_windows, 0)"
            ).alias("density_bp"),
            F.expr(
                "coalesce(n_shared_fp, 0) * 10000"
                " div nullif(coalesce(n_fingerprints, 0), 0)"
            ).alias("shared_bp"),
        )
    )


def doc_continuation_pairs(
    spark: SparkSession, sf_dir: str, k: int = 8
) -> DataFrame:
    """Crawl continuation detection (pagination stitching): document
    B continues document A when A's last ``k`` words equal B's first
    ``k`` words — the overlap crawlers leave when one logical page is
    split across fetches ("page 2 repeats the last paragraph").  The
    pairs feed a stitcher (concat A+B, drop the overlap) or a dedup
    pass (keep the stitched version).

    The synthetic corpus has no continuations, so the gate PLANTS
    them deterministically (the ``doc_gopher_rules`` decoration
    policy): every doc with doc_id % 97 == 0 gets its successor's
    first ``k`` words appended — the join arithmetic both engines run
    is real, and organic matches (if any) must agree too.

    Plan: one keyed self-join on doc_id+1 for the planting, two
    map-only boundary projections (first-k / last-k phrase strings —
    joined on the STRING, so no hash parity question), one equi-join
    keyed on the phrase.  Boundary relations are doc-count-sized with
    ~15-word payloads; at 100 TB both sides shuffle on the phrase key
    — never all-pairs.  Output: (prev_doc, next_doc).
    Reference analog: none (pure [EXT])."""
    d = _docs(spark, sf_dir)
    toks = d.select("doc_id", F.split(F.col("text"), " ").alias("__toks"))
    first_k = F.when(
        F.size("__toks") >= k,
        F.array_join(F.slice("__toks", 1, k), " "),
    )
    heads = toks.select("doc_id", first_k.alias("head_phrase")).filter(
        F.col("head_phrase").isNotNull()
    )
    planted = (
        toks.join(
            heads.select(
                (F.col("doc_id") - 1).alias("doc_id"),
                F.col("head_phrase").alias("__next_head"),
            ),
            "doc_id",
            "left",
        )
        .withColumn(
            "__toks",
            F.when(
                (F.col("doc_id") % 97 == 0)
                & F.col("__next_head").isNotNull(),
                F.concat(
                    F.col("__toks"), F.split(F.col("__next_head"), " ")
                ),
            ).otherwise(F.col("__toks")),
        )
        .select("doc_id", "__toks")
    )
    last_k = F.when(
        F.size("__toks") >= k,
        F.array_join(
            F.slice("__toks", F.size("__toks") - (k - 1), k), " "
        ),
    )
    tails = planted.select(
        F.col("doc_id").alias("prev_doc"), last_k.alias("tail_phrase")
    ).filter(F.col("tail_phrase").isNotNull())
    return (
        tails.join(
            heads.select(
                F.col("doc_id").alias("next_doc"),
                F.col("head_phrase").alias("tail_phrase"),
            ),
            "tail_phrase",
        )
        .filter(F.col("prev_doc") != F.col("next_doc"))
        .select("prev_doc", "next_doc")
    )


def _continuation_pairs_sql(k: int = 8) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
heads AS (
  SELECT doc_id, array_to_string(tk[1:{k}], ' ') AS head_phrase
  FROM toks WHERE len(tk) >= {k}
),
planted AS (
  SELECT t.doc_id,
         CASE WHEN t.doc_id % 97 = 0 AND h.head_phrase IS NOT NULL
              THEN t.tk || string_split(h.head_phrase, ' ')
              ELSE t.tk END AS tk
  FROM toks t LEFT JOIN heads h ON h.doc_id = t.doc_id + 1
),
tails AS (
  SELECT doc_id AS prev_doc,
         array_to_string(tk[len(tk) - {k - 1}:len(tk)], ' ') AS tail_phrase
  FROM planted WHERE len(tk) >= {k}
)
SELECT t.prev_doc, h.doc_id AS next_doc
FROM tails t JOIN heads h ON h.head_phrase = t.tail_phrase
WHERE t.prev_doc <> h.doc_id
ORDER BY t.prev_doc, next_doc
"""


DOC_CONTINUATION_PAIRS_SQL = _continuation_pairs_sql()


def doc_cdc_chunks(
    spark: SparkSession, sf_dir: str, mod: int = 8
) -> DataFrame:
    """Content-defined chunking (the rsync/LBFS/gear-hash family, at
    word granularity): a word whose 60-bit hash ≡ 0 (mod ``mod``)
    STARTS a new chunk, so chunk boundaries are a pure function of
    LOCAL content — inserting or deleting a sentence shifts only the
    chunks it touches, where fixed-width segmentation
    (``segment_dedup``) re-frames everything downstream.  The report
    measures each document's chunk profile and the corpus-shared
    chunk mass — the dedup-able bytes a CDC-based store would
    actually coalesce.

    Plan: one positional word explode (split projected ONCE — the
    ``_shingles`` rule, plan-guarded) → boundary flags → chunk ids via
    ONE doc-keyed running sum → (doc, chunk) agg rebuilding each
    chunk's text order-exactly (sorted struct collect; DuckDB twin
    uses ``string_agg(... ORDER BY pos)``) → chunk-hash-keyed share
    rollup (chunk-vocabulary-sized) → per-doc rollup LEFT-joined so
    empty docs report zeros.  Shuffles ride the doc id or the chunk
    hash; nothing pairwise, no corpus rescan.

    Output: (doc_id, n_words, n_chunks, n_shared_chunks,
    shared_words, shared_bp).  Reference analog: none (pure [EXT])."""
    from pyspark.sql import Window

    d = _docs(spark, sf_dir)
    words = (
        d.select("doc_id", F.split(F.col("text"), " ").alias("__toks"))
        .select(
            "doc_id",
            F.posexplode("__toks").alias("pos0", "word"),
        )
        .filter(F.col("word") != "")
        .select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    flagged = words.withColumn(
        "chunk_id",
        F.sum((_h60("word") % mod == 0).cast("int")).over(
            wd.rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    chunks = (
        flagged.groupBy("doc_id", "chunk_id")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_words_chunk"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("pos", "word"))),
                    lambda s: s["word"],
                ),
                " ",
            ).alias("chunk_text"),
        )
        .select(
            "doc_id",
            "n_words_chunk",
            _h60("chunk_text").alias("chunk_h"),
        )
    )
    # r14 batch 3 (guide §5): the chunk relation (word explode +
    # per-word md5 + running-sum window + order-exact rebuild) feeds
    # BOTH the share rollup and the per-doc rollup — persist the slim
    # (doc_id, n_words_chunk, chunk_h) rows so the corpus pass runs
    # once per call, not once per consumer.
    from meteaudata_spark.plans.opcache import cache_intermediate

    chunks = cache_intermediate(chunks)
    shared = chunks.groupBy("chunk_h").agg(
        F.countDistinct("doc_id").alias("__nd")
    )
    perdoc = (
        chunks.join(shared, "chunk_h")
        .groupBy("doc_id")
        .agg(
            F.sum("n_words_chunk").cast("bigint").alias("n_words"),
            F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
            F.sum((F.col("__nd") >= 2).cast("bigint"))
            .cast("bigint")
            .alias("n_shared_chunks"),
            F.sum(
                F.when(F.col("__nd") >= 2, F.col("n_words_chunk")).otherwise(
                    F.lit(0)
                )
            )
            .cast("bigint")
            .alias("shared_words"),
        )
    )
    return (
        d.select("doc_id")
        .join(perdoc, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_words", F.lit(0)).cast("bigint").alias("n_words"),
            F.coalesce("n_chunks", F.lit(0)).cast("bigint").alias("n_chunks"),
            F.coalesce("n_shared_chunks", F.lit(0))
            .cast("bigint")
            .alias("n_shared_chunks"),
            F.coalesce("shared_words", F.lit(0))
            .cast("bigint")
            .alias("shared_words"),
            F.expr(
                "coalesce(shared_words, 0) * 10000"
                " div nullif(coalesce(n_words, 0), 0)"
            ).alias("shared_bp"),
        )
    )


def _cdc_chunks_sql(mod: int = 8) -> str:
    hw = _H60_DUCK.format(col="word")
    hc = _H60_DUCK.format(col="chunk_text")
    return f"""
WITH words AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, tk[i] AS word
  FROM (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
       UNNEST(generate_series(1, len(tk))) AS t(i)
  WHERE tk[i] <> ''
),
flagged AS (
  SELECT doc_id, pos, word,
         SUM(CASE WHEN {hw} % {mod} = 0 THEN 1 ELSE 0 END) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS chunk_id
  FROM words
),
chunks AS (
  SELECT doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_words_chunk,
         {hc.replace("chunk_text", "string_agg(word, ' ' ORDER BY pos)")} AS chunk_h
  FROM flagged GROUP BY doc_id, chunk_id
),
shared AS (
  SELECT chunk_h, COUNT(DISTINCT doc_id) AS nd FROM chunks GROUP BY chunk_h
),
perdoc AS (
  SELECT c.doc_id,
         CAST(SUM(c.n_words_chunk) AS BIGINT) AS n_words,
         CAST(COUNT(*) AS BIGINT) AS n_chunks,
         CAST(SUM(CASE WHEN s.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared_chunks,
         CAST(SUM(CASE WHEN s.nd >= 2 THEN c.n_words_chunk ELSE 0 END)
              AS BIGINT) AS shared_words
  FROM chunks c JOIN shared s USING (chunk_h) GROUP BY c.doc_id
)
SELECT d.doc_id,
       CAST(COALESCE(p.n_words, 0) AS BIGINT) AS n_words,
       CAST(COALESCE(p.n_chunks, 0) AS BIGINT) AS n_chunks,
       CAST(COALESCE(p.n_shared_chunks, 0) AS BIGINT) AS n_shared_chunks,
       CAST(COALESCE(p.shared_words, 0) AS BIGINT) AS shared_words,
       CAST(COALESCE(p.shared_words, 0) * 10000
            // NULLIF(COALESCE(p.n_words, 0), 0) AS BIGINT) AS shared_bp
FROM documents d LEFT JOIN perdoc p USING (doc_id)
ORDER BY d.doc_id
"""


DOC_CDC_CHUNKS_SQL = _cdc_chunks_sql()


def _winnow_sql(k: int = 4, w: int = 4) -> str:
    h = _H60_DUCK.format(col="array_to_string(tk[i:i + {km1}], ' ')").format(
        km1=k - 1
    )
    return f"""
WITH toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
grams AS (
  SELECT doc_id, CAST(i AS BIGINT) AS pos, {h} AS h
  FROM toks, UNNEST(generate_series(1, GREATEST(len(tk) - {k - 1}, 0))) AS t(i)
),
sel AS (
  SELECT doc_id, pos,
         COUNT(*) OVER (PARTITION BY doc_id) AS n_grams,
         MIN({{'h': h, 'negpos': -pos}}) OVER (
           PARTITION BY doc_id ORDER BY pos
           ROWS BETWEEN CURRENT ROW AND {w - 1} FOLLOWING) AS s
  FROM grams
),
fps AS (
  SELECT DISTINCT doc_id, s.h AS h, -s.negpos AS fp_pos
  FROM sel WHERE pos <= n_grams - {w - 1}
),
shared AS (
  SELECT h, COUNT(DISTINCT doc_id) AS nd FROM fps GROUP BY h
),
perdoc AS (
  SELECT f.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_fingerprints,
         CAST(SUM(CASE WHEN s.nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared_fp
  FROM fps f JOIN shared s USING (h) GROUP BY f.doc_id
),
nw AS (
  SELECT doc_id,
         CAST(GREATEST(len(string_split(text, ' ')) - {k + w - 2}, 0)
              AS BIGINT) AS n_windows
  FROM documents
)
SELECT n.doc_id, n.n_windows,
       CAST(COALESCE(p.n_fingerprints, 0) AS BIGINT) AS n_fingerprints,
       CAST(COALESCE(p.n_shared_fp, 0) AS BIGINT) AS n_shared_fp,
       CAST(COALESCE(p.n_fingerprints, 0) * 10000
            // NULLIF(n.n_windows, 0) AS BIGINT) AS density_bp,
       CAST(COALESCE(p.n_shared_fp, 0) * 10000
            // NULLIF(COALESCE(p.n_fingerprints, 0), 0) AS BIGINT)
         AS shared_bp
FROM nw n LEFT JOIN perdoc p USING (doc_id)
ORDER BY n.doc_id
"""


DOC_WINNOW_SQL = _winnow_sql()


def substring_scrub(
    d: DataFrame,
    n_words: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The ACTION to ``doc_substring_spans``'s report: rewrite each
    document with its duplicate substrings removed — every word inside
    a ≥ ``n_words`` span whose content occurred at an earlier
    (doc_id, position) is dropped, first occurrences survive verbatim.

    Plan: the span detection is the same one-scan gram window +
    islands merge; the scrub side explodes words with positions and
    LEFT-joins them to the (few, per-doc) spans on the doc key with a
    BETWEEN post-filter — per-word fan-out is bounded by spans-per-doc
    — then reassembles with an order-preserving sorted collect.
    Documents with no duplicate spans pass through character-exact.

    Output: (doc_id, n_words, n_dropped, scrubbed_text)."""
    from pyspark.sql import Window

    k = n_words
    # split(text) projected ONCE before the lambda (the ``_shingles``
    # rule: inside the lambda Catalyst re-evaluates it per gram index,
    # O(words²) per doc)
    grams = d.select(
        F.col(id_col).alias("doc_id"),
        F.split(F.col(text_col), " ").alias("__toks"),
    ).select(
        "doc_id",
        F.explode(
            F.expr(
                f"CASE WHEN size(__toks) >= {k} THEN "
                f"transform(sequence(1, size(__toks) - {k - 1}), "
                f"i -> struct(i AS pos, "
                f"array_join(slice(__toks, i, {k}), ' ') AS gram)) "
                f"ELSE CAST(array() AS array<struct<pos:int, gram:string>>) END"
            )
        ).alias("g"),
    ).select("doc_id", F.col("g.pos").alias("pos"), F.col("g.gram").alias("gram"))
    key = F.struct(F.col("doc_id"), F.col("pos"))
    dup = (
        grams.withColumn(
            "first_key", F.min(key).over(Window.partitionBy("gram"))
        )
        .filter(~key.eqNullSafe(F.col("first_key")))
        .select("doc_id", "pos")
    )
    wd = Window.partitionBy("doc_id").orderBy("pos")
    prev_end = F.max(F.col("pos") + (k - 1)).over(
        wd.rowsBetween(Window.unboundedPreceding, -1)
    )
    spans = (
        dup.withColumn(
            "island",
            F.sum(
                F.when(
                    prev_end.isNull() | (F.col("pos") > prev_end + 1), 1
                ).otherwise(0)
            ).over(wd.rowsBetween(Window.unboundedPreceding, 0)),
        )
        .groupBy("doc_id", "island")
        .agg(F.min("pos").alias("s"), (F.max("pos") + (k - 1)).alias("e"))
        .select(F.col("doc_id").alias("s_doc"), "s", "e")
    )
    words = d.select(
        F.col(id_col).alias("doc_id"),
        F.posexplode(F.split(F.col(text_col), " ")).alias("pos0", "word"),
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "word")
    marked = (
        words.join(
            spans,
            (words["doc_id"] == spans["s_doc"])
            & (words["pos"] >= spans["s"])
            & (words["pos"] <= spans["e"]),
            "left",
        )
        .groupBy("doc_id", "pos", "word")
        .agg(F.max(F.col("s").isNotNull().cast("int")).alias("covered"))
    )
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum("covered").cast("bigint").alias("n_dropped"),
        F.concat_ws(
            " ",
            F.expr(
                "transform(filter(array_sort(collect_list(struct(pos, covered, word))), "
                "s -> s.covered = 0), s -> s.word)"
            ),
        ).alias("scrubbed_text"),
    )


def normalize_url(url):  # type: (F.Column) -> F.Column
    """Canonical form of a recorded URL: lowercase, strip the
    ``#fragment``, strip a trailing ``utm_*``-only query string, strip
    the trailing slash.  Every regexp matches at most once per URL, so
    Spark's replace-all and DuckDB's replace-first semantics agree by
    construction."""
    return F.regexp_replace(
        F.regexp_replace(
            F.regexp_replace(F.lower(url), F.lit(r"#.*$"), F.lit("")),
            F.lit(r"\?utm_.*$"),
            F.lit(""),
        ),
        F.lit(r"/$"),
        F.lit(""),
    )


def decorated_url(doc_id):  # type: (F.Column) -> F.Column
    """Deterministic doc_id-derived recorded URL (the synthetic corpus
    has no URL column): canonical page ``site{id%7}.../page/{id%50}``
    shared by many docs, with ``doc_id % 4`` picking the recorded
    variant (lowercase / MiXeD case + trailing slash / ``?utm_*``
    params / ``#fragment``)."""
    base = F.concat(
        F.lit("https://Site"),
        F.pmod(doc_id, F.lit(7)).cast("string"),
        F.lit(".Example.ORG/page/"),
        F.pmod(doc_id, F.lit(50)).cast("string"),
    )
    variant = F.pmod(doc_id, F.lit(4))
    return (
        F.when(variant == 0, F.lower(base))
        .when(variant == 1, F.concat(base, F.lit("/")))
        .when(
            variant == 2,
            F.concat(
                base,
                F.lit("?utm_source=feed&utm_campaign=c"),
                F.pmod(doc_id, F.lit(2)).cast("string"),
            ),
        )
        .otherwise(
            F.concat(
                base,
                F.lit("#section-"),
                F.pmod(doc_id, F.lit(5)).cast("string"),
            )
        )
    )


def doc_url_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-normalization dedup — the cheap first pass of every web
    corpus (RefinedWeb §3.1 dedups on normalized URL before any
    content hashing): two fetches of the same page must collapse even
    when their recorded URLs differ by host case, a trailing slash,
    tracking query parameters, or a fragment.

    The synthetic corpus has no URL column, so each doc is decorated
    with a deterministic doc_id-derived source URL (same policy as
    ``doc_pii_scrub`` / ``doc_url_stats``): the canonical page is
    ``site{doc_id%7}.example.org/page/{doc_id%50}`` — shared by many
    docs — and ``doc_id % 4`` picks the recorded variant (lowercase /
    MiXeD case + trailing slash / ``?utm_*`` tracking params /
    ``#fragment``).  The normalization chain BOTH engines run is the
    real operator: lowercase, strip fragment, strip a trailing
    ``utm_*``-only query string, strip the trailing slash.  Keeper is
    ``min(doc_id)`` per normalized URL.

    Every regexp matches at most once per URL, so Spark's replace-all
    and DuckDB's replace-first semantics agree by construction.

    Scale shape: a narrow projection (decorate + 3 regexp_replace)
    followed by ONE keyed hash-agg on the normalized URL — map-side
    partial aggregation applies, nothing is collected, no joins.
    Reference analog: none (pure [EXT])."""
    d = _docs(spark, sf_dir)
    norm = normalize_url(decorated_url(F.col("doc_id")))
    return (
        d.select(F.col("doc_id"), norm.alias("norm_url"))
        .groupBy("norm_url")
        .agg(
            F.min("doc_id").alias("kept_doc_id"),
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            (F.count(F.lit(1)) - 1).cast("bigint").alias("n_removed"),
        )
        .select("norm_url", "kept_doc_id", "n_docs", "n_removed")
    )


# decorate → record variant → normalize, as composable CTE text
# (shared by DOC_URL_DEDUP_SQL and the cascade twin)
_URL_NORM_CTES = r"""decorated AS (
  SELECT doc_id,
         'https://Site' || CAST(doc_id % 7 AS VARCHAR)
           || '.Example.ORG/page/' || CAST(doc_id % 50 AS VARCHAR) AS base,
         doc_id % 4 AS variant
  FROM documents
),
urls AS (
  SELECT doc_id,
         CASE variant
           WHEN 0 THEN LOWER(base)
           WHEN 1 THEN base || '/'
           WHEN 2 THEN base || '?utm_source=feed&utm_campaign=c'
                         || CAST(doc_id % 2 AS VARCHAR)
           ELSE base || '#section-' || CAST(doc_id % 5 AS VARCHAR)
         END AS url
  FROM decorated
),
normed AS (
  SELECT doc_id,
         regexp_replace(
           regexp_replace(
             regexp_replace(LOWER(url), '#.*$', ''),
             '\?utm_.*$', ''),
           '/$', '') AS norm_url
  FROM urls
)"""

DOC_URL_DEDUP_SQL = f"""
WITH {_URL_NORM_CTES}
SELECT norm_url, MIN(doc_id) AS kept_doc_id,
       COUNT(*) AS n_docs, COUNT(*) - 1 AS n_removed
FROM normed
GROUP BY norm_url
ORDER BY norm_url
"""


def doc_dedup_cascade(
    spark: SparkSession,
    sf_dir: str,
    clusters: Optional[DataFrame] = None,
) -> DataFrame:
    """The production dedup CASCADE as one observability table: URL
    normalization → exact text hash → MinHash near-dup, each stage
    deduping only what the previous stage let through — cheap fences
    first so the expensive miner sees the smallest corpus (the
    RefinedWeb/FineWeb ordering).  One row per stage:
    (stage, n_in, n_out, n_removed).

    Survivor rules, all deterministic: stage 1 keeps min(doc_id) per
    normalized URL; stage 2 keeps min(doc_id) per md5(text) AMONG
    stage-1 survivors; stage 3 keeps, per near-dup cluster, the
    lowest surviving doc_id (the cluster's global min may already be
    gone — the keeper is recomputed over stage-2 survivors), and docs
    in no cluster pass through.

    COMPOSES, never recomputes: ``clusters`` defaults to the
    session-memoized ``doc_dedup_clusters`` relation, so the cascade
    costs three keyed aggs + two keyed joins beyond its upstream.
    The stage counts are 1-row aggregates crossJoined back together
    (scalar broadcasts).  Reference analog: none (pure [EXT])."""
    from meteaudata_spark.plans.opcache import cache_intermediate

    d = _docs(spark, sf_dir)
    norm = normalize_url(decorated_url(F.col("doc_id")))
    # r14 batch 3 (guide §5): each stage relation feeds BOTH the next
    # stage and its own 1-row count — persist the slim survivor-id
    # frames once per call so the URL-normalize / md5 / cluster-join
    # passes run once, not once per reference (s2c alone sat on three
    # plan paths).
    s1 = cache_intermediate(
        d.select("doc_id", norm.alias("norm_url"))
        .groupBy("norm_url")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    s1_docs = s1.join(d.select("doc_id", "text"), "doc_id")
    s2 = cache_intermediate(
        s1_docs.groupBy(F.md5("text").alias("h"))
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    if clusters is None:
        clusters = doc_dedup_clusters(spark, sf_dir)
    s2c = cache_intermediate(
        s2.join(
            clusters.select("doc_id", "cluster_id"), "doc_id", "left"
        )
    )
    keep = (
        s2c.filter(F.col("cluster_id").isNotNull())
        .groupBy("cluster_id")
        .agg(F.min("doc_id").alias("keep_id"))
    )
    s3 = s2c.filter(F.col("cluster_id").isNull()).select("doc_id").unionAll(
        s2c.join(keep, "cluster_id")
        .filter(F.col("doc_id") == F.col("keep_id"))
        .select("doc_id")
    )
    c0 = d.agg(F.count(F.lit(1)).alias("n0"))
    c1 = s1.agg(F.count(F.lit(1)).alias("n1"))
    c2 = s2.agg(F.count(F.lit(1)).alias("n2"))
    c3 = s3.agg(F.count(F.lit(1)).alias("n3"))
    n = (
        c0.crossJoin(F.broadcast(c1))
        .crossJoin(F.broadcast(c2))
        .crossJoin(F.broadcast(c3))
    )
    # explode ONE 1-row count relation into the 3 stage rows — a
    # unionAll of per-stage selects would replicate the entire
    # cascade (clusters pipeline included) once per branch
    def stage_row(name: str, a: str, b: str):
        return F.struct(
            F.lit(name).alias("stage"),
            F.col(a).alias("n_in"),
            F.col(b).alias("n_out"),
            (F.col(a) - F.col(b)).alias("n_removed"),
        )

    return (
        n.select(
            F.explode(
                F.array(
                    stage_row("1_url", "n0", "n1"),
                    stage_row("2_exact", "n1", "n2"),
                    stage_row("3_neardup", "n2", "n3"),
                )
            ).alias("s")
        )
        .select("s.*")
    )


def _dedup_cascade_sql() -> str:
    clusters = _dedup_clusters_sql().strip()
    clusters = clusters[: clusters.rindex("ORDER BY")]
    # MATERIALIZED: DuckDB inlines CTEs per reference by default, and
    # comp_rows/s2c sit on multiple reference paths (s3's two branches
    # + every scalar count) — without the hint the RECURSIVE
    # reachability CTE re-evaluates once per path
    return f"""
WITH comp_rows AS MATERIALIZED (
{clusters}
),
{_URL_NORM_CTES},
s1 AS MATERIALIZED (
  SELECT MIN(doc_id) AS doc_id FROM normed GROUP BY norm_url
),
s1d AS (
  SELECT d.doc_id, d.text FROM documents d JOIN s1 ON s1.doc_id = d.doc_id
),
s2 AS MATERIALIZED (
  SELECT MIN(doc_id) AS doc_id FROM s1d GROUP BY md5(text)
),
s2c AS MATERIALIZED (
  SELECT s2.doc_id, c.cluster_id
  FROM s2 LEFT JOIN comp_rows c ON c.doc_id = s2.doc_id
),
keep AS (
  SELECT cluster_id, MIN(doc_id) AS keep_id
  FROM s2c WHERE cluster_id IS NOT NULL GROUP BY cluster_id
),
s3 AS (
  SELECT doc_id FROM s2c WHERE cluster_id IS NULL
  UNION ALL
  SELECT s2c.doc_id FROM s2c JOIN keep ON keep.cluster_id = s2c.cluster_id
  WHERE s2c.doc_id = keep.keep_id
),
n AS (
  SELECT (SELECT COUNT(*) FROM documents) AS n0,
         (SELECT COUNT(*) FROM s1) AS n1,
         (SELECT COUNT(*) FROM s2) AS n2,
         (SELECT COUNT(*) FROM s3) AS n3
)
SELECT '1_url' AS stage, n0 AS n_in, n1 AS n_out, n0 - n1 AS n_removed FROM n
UNION ALL
SELECT '2_exact', n1, n2, n1 - n2 FROM n
UNION ALL
SELECT '3_neardup', n2, n3, n2 - n3 FROM n
ORDER BY stage
"""


DOC_DEDUP_CASCADE_SQL = _dedup_cascade_sql()


def doc_jaccard_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-threshold tuning table for TEXT near-dups: the exact-
    Jaccard distribution of every MinHash-mined pair, bucketed at 0.1
    — the textual twin of ``emb_similarity_histogram`` (same
    decision: where does the duplicate mode separate from the
    background?).  Pairs below the mining floor (LSH verify threshold
    0.25) are absent by construction — the histogram starts at the
    floor, which is exactly the region a production threshold sweep
    explores.

    Composes the session-memoized pair relation unchanged, so after
    any other MinHash row this costs one tiny hash-agg.

    Output: (jaccard_bucket, n_pairs, min/max jaccard).
    Reference analog: none (pure [EXT])."""
    pairs = doc_minhash_lsh_pairs(spark, sf_dir)
    return (
        pairs.groupBy(
            F.floor(F.col("jaccard") * 10).cast("bigint").alias(
                "jaccard_bucket"
            )
        )
        .agg(
            F.count(F.lit(1)).alias("n_pairs"),
            F.min("jaccard").alias("min_jaccard"),
            F.max("jaccard").alias("max_jaccard"),
        )
    )


def _jaccard_histogram_sql() -> str:
    inner = _minhash_sql().strip()
    inner = inner[: inner.rindex("ORDER BY")]
    return f"""
WITH pair_rows AS (
{inner}
)
SELECT CAST(FLOOR(jaccard * 10) AS BIGINT) AS jaccard_bucket,
       COUNT(*) AS n_pairs,
       MIN(jaccard) AS min_jaccard,
       MAX(jaccard) AS max_jaccard
FROM pair_rows
GROUP BY 1
ORDER BY jaccard_bucket
"""


DOC_JACCARD_HISTOGRAM_SQL = _jaccard_histogram_sql()


# ----------------------------------------------------------------------
# pair-miner agreement matrix (MinHash-verified vs SimHash fence)
# ----------------------------------------------------------------------
def doc_dedup_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement report between the two near-dup miners: the
    exact-Jaccard-verified MinHash/LSH pairs vs the SimHash hamming
    fence — the table that tells a pipeline owner whether the cheap
    bit-signature fence can gate the expensive verify (high recall of
    the verified set) and what candidate overhead it drags (the
    only-SimHash count IS the false-candidate rate of the fence).

    Composes the two MEMOIZED pair relations (zero re-mining after
    either gate row ran) through one full-outer hash join on the pair
    key and a 1-row count agg.  All integers; pair-set Jaccard in bp.

    Output: (n_minhash_pairs, n_simhash_pairs, n_both,
    n_only_minhash, n_only_simhash, pair_jaccard_bp).
    Reference analog: none ([EXT])."""
    mh = doc_minhash_lsh_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_mh")
    )
    sh = doc_simhash_near_pairs(spark, sf_dir).select(
        "doc_a", "doc_b", F.lit(1).alias("in_sh")
    )
    j = mh.join(sh, ["doc_a", "doc_b"], "full_outer")
    return j.groupBy().agg(
        F.sum(F.coalesce(F.col("in_mh"), F.lit(0)))
        .cast("bigint")
        .alias("n_minhash_pairs"),
        F.sum(F.coalesce(F.col("in_sh"), F.lit(0)))
        .cast("bigint")
        .alias("n_simhash_pairs"),
        F.sum(
            (F.col("in_mh").isNotNull() & F.col("in_sh").isNotNull())
            .cast("bigint")
        )
        .cast("bigint")
        .alias("n_both"),
        F.sum(
            (F.col("in_mh").isNotNull() & F.col("in_sh").isNull())
            .cast("bigint")
        )
        .cast("bigint")
        .alias("n_only_minhash"),
        F.sum(
            (F.col("in_mh").isNull() & F.col("in_sh").isNotNull())
            .cast("bigint")
        )
        .cast("bigint")
        .alias("n_only_simhash"),
    ).select(
        "n_minhash_pairs",
        "n_simhash_pairs",
        "n_both",
        "n_only_minhash",
        "n_only_simhash",
        F.expr(
            "(n_both * 10000) div nullif"
            "(n_minhash_pairs + n_simhash_pairs - n_both, 0)"
        ).alias("pair_jaccard_bp"),
    )


def _dedup_agreement_sql() -> str:
    mh = DOC_MINHASH_SQL.strip()
    if "ORDER BY" in mh:
        mh = mh[: mh.rindex("ORDER BY")]
    sh = DOC_SIMHASH_NEAR_PAIRS_SQL.strip()
    if "ORDER BY" in sh:
        sh = sh[: sh.rindex("ORDER BY")]
    return f"""
WITH mh AS MATERIALIZED (
{mh}
),
sh AS MATERIALIZED (
{sh}
),
j AS (
  SELECT COALESCE(mh.doc_a, sh.doc_a) AS doc_a,
         COALESCE(mh.doc_b, sh.doc_b) AS doc_b,
         (mh.doc_a IS NOT NULL) AS in_mh,
         (sh.doc_a IS NOT NULL) AS in_sh
  FROM mh FULL OUTER JOIN sh
    ON sh.doc_a = mh.doc_a AND sh.doc_b = mh.doc_b
),
agg AS (
  SELECT CAST(SUM(CASE WHEN in_mh THEN 1 ELSE 0 END) AS BIGINT)
           AS n_minhash_pairs,
         CAST(SUM(CASE WHEN in_sh THEN 1 ELSE 0 END) AS BIGINT)
           AS n_simhash_pairs,
         CAST(SUM(CASE WHEN in_mh AND in_sh THEN 1 ELSE 0 END) AS BIGINT)
           AS n_both,
         CAST(SUM(CASE WHEN in_mh AND NOT in_sh THEN 1 ELSE 0 END)
              AS BIGINT) AS n_only_minhash,
         CAST(SUM(CASE WHEN NOT in_mh AND in_sh THEN 1 ELSE 0 END)
              AS BIGINT) AS n_only_simhash
  FROM j
)
SELECT n_minhash_pairs, n_simhash_pairs, n_both, n_only_minhash,
       n_only_simhash,
       CAST((n_both * 10000)
            // NULLIF(n_minhash_pairs + n_simhash_pairs - n_both, 0)
            AS BIGINT) AS pair_jaccard_bp
FROM agg
"""


DOC_DEDUP_AGREEMENT_SQL = _dedup_agreement_sql()


# ----------------------------------------------------------------------
# per-source boilerplate profile (C4-rule observability)


def boilerplate_report(
    d: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    group_col: str = "source",
    seg_words: int = 8,
) -> DataFrame:
    """Per-source boilerplate profile — the observability half of the
    C4 rule ("discard any span occurring more than once in the
    DATASET", i.e. corpus-GLOBAL): a segment is boilerplate when it
    occurs in ≥ 2 distinct documents anywhere in the corpus
    (navigation chrome, footers, templated text travel across
    domains); the report attributes that shared mass back to each
    source.  The source with a high shared share is the one whose
    segment-dedup pass will actually bite.

    Output per source: document count, total segment occurrences,
    distinct segments, distinct segments that are globally shared,
    occurrences attributable to shared segments, and that share in
    basis points (integer floor-div — exact cross-engine).

    Scale shape: one map-side explode into fixed ``seg_words``-word
    segments (same segmentation as ``segment_dedup``), ONE keyed agg
    on (source, segment), one keyed rollup of it to the global
    per-segment doc count, then a segment-keyed join between two
    SEGMENT-VOCABULARY-sized relations (≪ corpus rows; both sides
    hash-partition on the same key) and a source-level rollup joined
    against the tiny per-source doc-count relation (broadcast).  No
    windows, no pairs, no quadratic term.
    Reference analog: none (pure [EXT])."""
    w = seg_words
    # split(text) projected ONCE before the lambda (the ``_shingles``
    # rule: inside the lambda Catalyst re-evaluates it per segment
    # index, O(words²) per doc) — matches the oracle's ``toks`` CTE
    segs = d.select(
        id_col,
        group_col,
        F.split(F.col(text_col), " ").alias("__toks"),
    ).select(
        id_col,
        group_col,
        F.posexplode(
            F.expr(
                f"transform(sequence(0, cast(ceil(size(__toks) / {w}.0) as int) - 1), "
                f"i -> concat_ws(' ', slice(__toks, i * {w} + 1, {w})))"
            )
        ).alias("seg_idx", "segment"),
    )
    per_src_seg = segs.groupBy(group_col, "segment").agg(
        F.countDistinct(id_col).alias("__nd"),
        F.count(F.lit(1)).alias("__occ"),
    )
    global_seg = per_src_seg.groupBy("segment").agg(
        F.sum("__nd").alias("__nd_global")
    )
    per_src = (
        per_src_seg.join(global_seg, "segment")
        .groupBy(group_col)
        .agg(
            F.sum("__occ").alias("n_segment_occ"),
            F.count(F.lit(1)).alias("n_distinct_segments"),
            F.sum((F.col("__nd_global") >= 2).cast("bigint")).alias(
                "n_shared_segments"
            ),
            F.sum(
                F.when(F.col("__nd_global") >= 2, F.col("__occ")).otherwise(0)
            ).alias("shared_occ"),
        )
    )
    docs_per_src = d.groupBy(group_col).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    return (
        per_src.join(F.broadcast(docs_per_src), group_col)
        .select(
            group_col,
            "n_docs",
            "n_segment_occ",
            "n_distinct_segments",
            "n_shared_segments",
            "shared_occ",
            F.expr("shared_occ * 10000 div n_segment_occ").alias(
                "boilerplate_bp"
            ),
        )
    )


def doc_boilerplate_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gate query: 8-word-segment boilerplate share per source."""
    return boilerplate_report(_docs(spark, sf_dir))


DOC_BOILERPLATE_SQL = """
WITH toks AS (
  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
),
segs AS (
  SELECT doc_id, source,
         array_to_string(t[(i - 1) * 8 + 1:(i - 1) * 8 + 8], ' ') AS segment
  FROM toks, UNNEST(generate_series(1, CAST(CEIL(LEN(t) / 8.0) AS BIGINT))) AS g(i)
),
per_src_seg AS (
  SELECT source, segment, COUNT(DISTINCT doc_id) AS nd, COUNT(*) AS occ
  FROM segs GROUP BY 1, 2
),
global_seg AS (
  SELECT segment, SUM(nd) AS nd_global FROM per_src_seg GROUP BY segment
),
per_src AS (
  SELECT source, CAST(SUM(occ) AS BIGINT) AS n_segment_occ,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_segments,
         CAST(SUM(CASE WHEN nd_global >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_shared_segments,
         CAST(SUM(CASE WHEN nd_global >= 2 THEN occ ELSE 0 END) AS BIGINT)
           AS shared_occ
  FROM per_src_seg JOIN global_seg USING (segment) GROUP BY source
),
dc AS (
  SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY source
)
SELECT p.source, d.n_docs, p.n_segment_occ, p.n_distinct_segments,
       p.n_shared_segments, p.shared_occ,
       p.shared_occ * 10000 // p.n_segment_occ AS boilerplate_bp
FROM per_src p JOIN dc d USING (source)
ORDER BY p.source
"""


# ----------------------------------------------------------------------
# LSH candidate verification by edit distance
# ----------------------------------------------------------------------
def doc_lsh_edit_verify(
    spark: SparkSession,
    sf_dir: str,
    min_sim_bp: int = 9000,
    prefix: int = 2000,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.25,
    n: int = 3,
) -> DataFrame:
    """Second-stage near-duplicate verification: re-score the MinHash/
    LSH candidate pairs with EXACT edit distance (Levenshtein) and
    keep pairs whose normalized edit similarity clears ``min_sim_bp``
    basis points — the character-level confirmation pass corpus
    curation pipelines run when shingle Jaccard alone over-merges
    (e.g. shared boilerplate with different payloads).

    Stages, all JVM expressions (``F.levenshtein`` is a codegen'd
    built-in; no Python in the hot path):
      1. candidates: the memoized ``doc_minhash_lsh_pairs`` relation —
         compose, don't recompute; the quadratic all-pairs stage never
         exists at any scale.
      2. text projection: first ``prefix`` chars, non-printable-ASCII
         sanitized to ``?`` — DuckDB's ``levenshtein`` is byte-based
         while Spark's is codepoint-based, so the sanitize step makes
         bytes == codepoints and the two engines agree exactly (and
         caps the O(len_a·len_b) DP cost per pair at scale).
      3. length fence BEFORE the DP: ``lev >= |len_a - len_b|`` always,
         so any pair whose length gap alone caps similarity below
         ``min_sim_bp`` is dropped without running the quadratic cell
         sweep — the classic cheap lower bound.
      4. exact Levenshtein + integer floor-div similarity in bp;
         deterministic ordering by (doc_a, doc_b).

    Scale shape: |pairs| is LSH-bounded, both joins are keyed id
    lookups against the narrow text projection, and the only
    superlinear work (the DP) runs on fence survivors over a bounded
    prefix.  Reference analog: none (pure [EXT])."""
    pairs = doc_minhash_lsh_pairs(
        spark, sf_dir, num_hashes, bands, threshold, n
    )
    tx = _docs(spark, sf_dir).select(
        "doc_id",
        F.substring(
            F.regexp_replace(F.col("text"), r"[^\x20-\x7e]", "?"),
            1,
            prefix,
        ).alias("t"),
    )
    j = (
        pairs.join(
            tx.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("ta")),
            "doc_a",
        )
        .join(
            tx.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("tb")),
            "doc_b",
        )
        .withColumn("la", F.length("ta").cast("bigint"))
        .withColumn("lb", F.length("tb").cast("bigint"))
        .withColumn("mx", F.greatest("la", "lb"))
    )
    fenced = j.filter(
        (F.col("mx") - F.abs(F.col("la") - F.col("lb"))) * 10000
        >= F.lit(int(min_sim_bp)) * F.col("mx")
    )
    scored = fenced.withColumn(
        "lev", F.levenshtein("ta", "tb").cast("bigint")
    ).withColumn(
        "edit_sim_bp",
        F.expr("(mx - lev) * 10000 div mx"),
    )
    return (
        scored.filter(F.col("edit_sim_bp") >= int(min_sim_bp))
        .select(
            "doc_a",
            "doc_b",
            F.expr("cast(round(jaccard * 1000000) as bigint)").alias(
                "jaccard_micros"
            ),
            "lev",
            "edit_sim_bp",
        )
    )


def _lsh_edit_verify_sql(
    min_sim_bp: int = 9000,
    prefix: int = 2000,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.25,
) -> str:
    """Parameterized oracle builder (same pattern as ``_minhash_sql``)
    so non-default calls never silently mismatch their oracle."""
    return f"""
WITH {_minhash_ctes(num_hashes, bands, threshold)},
tx AS (
  SELECT doc_id,
         substring(regexp_replace(text, '[^\\x20-\\x7e]', '?', 'g'),
                   1, {int(prefix)}) AS t
  FROM documents
),
joined AS (
  SELECT p.doc_a, p.doc_b, p.jaccard, a.t AS ta, b.t AS tb,
         CAST(length(a.t) AS BIGINT) AS la,
         CAST(length(b.t) AS BIGINT) AS lb,
         CAST(GREATEST(length(a.t), length(b.t)) AS BIGINT) AS mx
  FROM mh_pairs p
  JOIN tx a ON a.doc_id = p.doc_a
  JOIN tx b ON b.doc_id = p.doc_b
),
scored AS (
  SELECT doc_a, doc_b, jaccard,
         CAST(levenshtein(ta, tb) AS BIGINT) AS lev, mx
  FROM joined
  WHERE (mx - ABS(la - lb)) * 10000 >= {int(min_sim_bp)} * mx
)
SELECT doc_a, doc_b,
       CAST(ROUND(jaccard * 1000000) AS BIGINT) AS jaccard_micros,
       lev,
       (mx - lev) * 10000 // mx AS edit_sim_bp
FROM scored
WHERE (mx - lev) * 10000 // mx >= {int(min_sim_bp)}
ORDER BY doc_a, doc_b
"""


DOC_LSH_EDIT_VERIFY_SQL = _lsh_edit_verify_sql()


# ----------------------------------------------------------------------
# asymmetric containment scoring over LSH candidates
# ----------------------------------------------------------------------
def doc_minhash_containment(
    spark: SparkSession,
    sf_dir: str,
    subset_bp: int = 9500,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.25,
    n: int = 3,
) -> DataFrame:
    """Asymmetric containment scores for the LSH candidate pairs:
    C(A|B) = |A∩B| / |A| per direction — the subset detector symmetric
    Jaccard misses (a quote, excerpt, or chapter fully CONTAINED in a
    longer doc scores low Jaccard but containment ≈ 1), which is how
    curation pipelines catch quote-farms and wrapper pages.

    Composition: candidates are the memoized ``doc_minhash_lsh_pairs``
    relation; the shingle-hash sets are recomputed ONLY for documents
    appearing in a pair (a semi-join-bounded corpus subset — at 100 TB
    the shingle pass runs over |pair docs|, not the corpus).  All
    ratios integer basis points; ``is_subset`` flags pairs whose max
    directional containment clears ``subset_bp``.
    Reference analog: none (pure [EXT])."""
    pairs = doc_minhash_lsh_pairs(
        spark, sf_dir, num_hashes, bands, threshold, n
    )
    ids = (
        pairs.select(F.explode(F.array("doc_a", "doc_b")).alias("doc_id"))
        .distinct()
    )
    subset = _docs(spark, sf_dir).join(ids, "doc_id")
    # r14 batch 3 (guide §5): the pair-doc shingle sets join the pair
    # relation on BOTH sides — persist the slim (doc_id, hs) rows so
    # the bounded shingle pass runs once per call, not per side.
    from meteaudata_spark.plans.opcache import cache_intermediate

    sets = cache_intermediate(
        _md5_shingles(subset, n)
        .groupBy("doc_id")
        .agg(F.array_sort(F.collect_set("h")).alias("hs"))
    )
    j = (
        pairs.join(
            sets.select(F.col("doc_id").alias("doc_a"), F.col("hs").alias("hs_a")),
            "doc_a",
        )
        .join(
            sets.select(F.col("doc_id").alias("doc_b"), F.col("hs").alias("hs_b")),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.expr("cast(round(jaccard * 1000000) as bigint)").alias(
                "jaccard_micros"
            ),
            F.size(F.array_intersect("hs_a", "hs_b"))
            .cast("bigint")
            .alias("n_inter"),
            F.size("hs_a").cast("bigint").alias("n_a"),
            F.size("hs_b").cast("bigint").alias("n_b"),
        )
    )
    return (
        j.withColumn(
            "containment_a_bp", F.expr("(n_inter * 10000) div n_a")
        )
        .withColumn(
            "containment_b_bp", F.expr("(n_inter * 10000) div n_b")
        )
        .withColumn(
            "is_subset",
            (
                F.greatest("containment_a_bp", "containment_b_bp")
                >= F.lit(int(subset_bp))
            ).cast("bigint"),
        )
        .select(
            "doc_a",
            "doc_b",
            "jaccard_micros",
            "containment_a_bp",
            "containment_b_bp",
            "is_subset",
        )
    )


def _minhash_containment_sql(
    subset_bp: int = 9500,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.25,
) -> str:
    """Parameterized oracle builder: reuses the miner's CTE chain —
    ``inter`` and ``sizes`` already hold |A∩B| and |A| for every
    candidate pair."""
    return f"""
WITH {_minhash_ctes(num_hashes, bands, threshold)},
scored AS (
  SELECT p.doc_a, p.doc_b,
         CAST(ROUND(p.jaccard * 1000000) AS BIGINT) AS jaccard_micros,
         CAST(i.n_inter AS BIGINT) AS n_inter,
         CAST(sa.n_sh AS BIGINT) AS n_a, CAST(sb.n_sh AS BIGINT) AS n_b
  FROM mh_pairs p
  JOIN inter i ON i.doc_a = p.doc_a AND i.doc_b = p.doc_b
  JOIN sizes sa ON sa.doc_id = p.doc_a
  JOIN sizes sb ON sb.doc_id = p.doc_b
)
SELECT doc_a, doc_b, jaccard_micros,
       (n_inter * 10000) // n_a AS containment_a_bp,
       (n_inter * 10000) // n_b AS containment_b_bp,
       CAST(CASE WHEN GREATEST((n_inter * 10000) // n_a,
                               (n_inter * 10000) // n_b) >= {int(subset_bp)}
                 THEN 1 ELSE 0 END AS BIGINT) AS is_subset
FROM scored
ORDER BY doc_a, doc_b
"""


DOC_MINHASH_CONTAINMENT_SQL = _minhash_containment_sql()


# ----------------------------------------------------------------------
# Jaccard-threshold calibration against character-level truth
# ----------------------------------------------------------------------
def doc_jaccard_edit_calibration(
    spark: SparkSession,
    sf_dir: str,
    truth_sim_bp: int = 9000,
    prefix: int = 2000,
) -> DataFrame:
    """Calibrate the shingle-Jaccard score against EXACT edit-distance
    truth: bucket the LSH candidate pairs into Jaccard bands and
    report how often each band clears the ``truth_sim_bp``
    character-similarity fence — the table that picks the production
    Jaccard threshold (and quantifies what each notch of threshold
    costs in real duplicates kept).

    Composes the memoized ``doc_minhash_lsh_pairs`` relation with one
    Levenshtein pass over the candidate set (sanitized ``prefix``
    chars, the ``doc_lsh_edit_verify`` engine-parity rules) — the
    candidate universe is LSH-bounded, so the quadratic DP never
    meets unbounded pair counts (the 16-bit SimHash universe, by
    contrast, is collision-dense by construction and is deliberately
    NOT evaluated this way).

    Output per Jaccard band of 0.05 (band = floor(jaccard·20)):
    (jaccard_band, n_pairs, n_edit_true, true_rate_bp,
    avg_edit_sim_bp).  Reference analog: none (pure [EXT])."""
    pairs = doc_minhash_lsh_pairs(spark, sf_dir)
    tx = _docs(spark, sf_dir).select(
        "doc_id",
        F.substring(
            F.regexp_replace(F.col("text"), r"[^\x20-\x7e]", "?"), 1, prefix
        ).alias("t"),
    )
    labeled = (
        pairs.join(
            tx.select(F.col("doc_id").alias("doc_a"), F.col("t").alias("ta")),
            "doc_a",
        )
        .join(
            tx.select(F.col("doc_id").alias("doc_b"), F.col("t").alias("tb")),
            "doc_b",
        )
        .withColumn(
            "mx", F.greatest(F.length("ta"), F.length("tb")).cast("bigint")
        )
        .withColumn("lev", F.levenshtein("ta", "tb").cast("bigint"))
        .withColumn("edit_sim_bp", F.expr("(mx - lev) * 10000 div mx"))
        .withColumn(
            "band", F.floor(F.col("jaccard") * 20).cast("bigint")
        )
    )
    return (
        labeled.groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
            F.sum(
                (F.col("edit_sim_bp") >= int(truth_sim_bp)).cast("bigint")
            )
            .cast("bigint")
            .alias("n_edit_true"),
        )
        .join(
            labeled.groupBy("band").agg(
                F.expr("sum(edit_sim_bp) div count(1)")
                .cast("bigint")
                .alias("avg_edit_sim_bp")
            ),
            "band",
        )
        .select(
            F.col("band").alias("jaccard_band"),
            "n_pairs",
            "n_edit_true",
            F.expr("(n_edit_true * 10000) div n_pairs").alias(
                "true_rate_bp"
            ),
            "avg_edit_sim_bp",
        )
    )


def _jaccard_edit_calibration_sql(
    truth_sim_bp: int = 9000,
    prefix: int = 2000,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.25,
) -> str:
    """Parameterized oracle builder for ``doc_jaccard_edit_calibration``."""
    return f"""
WITH {_minhash_ctes(num_hashes, bands, threshold)},
tx AS (
  SELECT doc_id,
         substring(regexp_replace(text, '[^\\x20-\\x7e]', '?', 'g'),
                   1, {int(prefix)}) AS t
  FROM documents
),
labeled AS (
  SELECT CAST(FLOOR(p.jaccard * 20) AS BIGINT) AS band,
         (CAST(GREATEST(length(a.t), length(b.t)) AS BIGINT)
          - CAST(levenshtein(a.t, b.t) AS BIGINT)) * 10000
          // CAST(GREATEST(length(a.t), length(b.t)) AS BIGINT)
           AS edit_sim_bp
  FROM mh_pairs p
  JOIN tx a ON a.doc_id = p.doc_a
  JOIN tx b ON b.doc_id = p.doc_b
)
SELECT band AS jaccard_band,
       CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN edit_sim_bp >= {int(truth_sim_bp)}
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_edit_true,
       CAST((SUM(CASE WHEN edit_sim_bp >= {int(truth_sim_bp)}
                      THEN 1 ELSE 0 END) * 10000)
            // COUNT(*) AS BIGINT) AS true_rate_bp,
       CAST(SUM(edit_sim_bp) // COUNT(*) AS BIGINT) AS avg_edit_sim_bp
FROM labeled
GROUP BY band ORDER BY jaccard_band
"""


DOC_JACCARD_EDIT_CALIBRATION_SQL = _jaccard_edit_calibration_sql()
