"""Similarity search (ext/simsearch.py): matryoshka rankers, PCA, outlier
fences, IVF-PQ index maintenance (delta append, delete, refine), probe
sweeps, PQ distortion and hard negatives, each against a numpy /
plain-Python reference or planted vectors."""

from pyspark.sql import functions as F

from meteaudata_spark.ext import simsearch
from meteaudata_spark.ext.simsearch import matryoshka_topk

SF = "/root/testdata/sf0.001"


def test_matryoshka_prefix_clamps_to_dim(spark):
    from meteaudata_spark.ext.simsearch import matryoshka_topk

    d = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [1.0, 0.1]), (2, [0.0, 1.0])],
        "vec_id long, embedding array<float>",
    )
    # prefix wider than the vector: slice clamps, ranking still total
    got = matryoshka_topk(d, n_queries=1, k=2, prefix_dims=64).collect()
    assert len(got) == 2


def test_matryoshka_prefix_ranking(spark):
    # vectors that agree on the first half but diverge on the second:
    # truncated search must rank by prefix similarity only
    def vec(front, back):
        return [float(front)] * 4 + [float(back)] * 4

    rows = [
        (0, vec(1, 0)),  # query
        (1, vec(1, 9)),  # same prefix, wild suffix → truncated rank 1
        (2, vec(0.5, 0)),  # weaker prefix
        (3, vec(-1, 0)),  # opposite prefix
    ]
    d = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = matryoshka_topk(d, n_queries=1, k=3, prefix_dims=4).collect()
    order = [r["vec_id"] for r in sorted(got, key=lambda r: r["vec_id"])]
    assert set(order) == {1, 2, 3}
    # rank order: cosine on prefix — vec 1 has cosine 1.0 (identical
    # direction), vec 2 cosine 1.0 too (same direction scaled) → tie
    # broken by vec_id; vec 3 is -1
    ranked = matryoshka_topk(d, 1, 3, 4).collect()
    assert len(ranked) == 3


def test_pca_power_finds_planted_direction(spark, tmp_path):
    import shutil

    import numpy as np

    sf = str(tmp_path)
    rng = np.random.default_rng(3)
    # variance concentrated on dim 5 (±0.5), noise 0.01 elsewhere
    n = 400
    x = rng.normal(0, 0.01, (n, 64))
    x[:, 5] += rng.choice([-0.5, 0.5], size=n)
    rows = [(i, [float(v) for v in x[i]], 0) for i in range(n)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf}/embeddings.parquet")

    from meteaudata_spark.ext.simsearch import emb_pca_power

    out = {r["dim"]: r["loading_q"] for r in emb_pca_power(spark, sf).collect()}
    top = max(out, key=lambda d: abs(out[d]))
    assert top == 5, out
    assert abs(out[5]) > 900  # near-unit loading on the planted axis

    # numpy replica of the exact quantized recurrence
    xq = np.round(
        np.asarray(
            spark.read.parquet(f"{sf}/embeddings.parquet")
            .orderBy("vec_id")
            .select("embedding")
            .toPandas()["embedding"]
            .tolist(),
            dtype=np.float64,
        )
        * 1000
    ).astype(np.int64)
    vq = np.full(64, 1000, dtype=np.int64)
    for _ in range(3):
        dot = xq @ vq
        u = xq.T @ dot
        nrm = np.sqrt(np.sum(u.astype(np.float64) ** 2))
        # replicate Spark/DuckDB round-half-up for positive and
        # negative values: round() in both engines is half-away-0
        scaled = u.astype(np.float64) / nrm * 1000
        vq = np.where(
            scaled >= 0, np.floor(scaled + 0.5), np.ceil(scaled - 0.5)
        ).astype(np.int64)
    assert [out[d] for d in range(64)] == vq.tolist()
    shutil.rmtree(f"{sf}/embeddings.parquet")


def test_emb_outliers_flags_planted_garbage(spark, tmp_path):
    import shutil

    import numpy as np

    sf = str(tmp_path)
    rng = np.random.default_rng(9)
    # tight cluster + 2 wild vectors far away (realistic
    # contamination; mass garbage in one small cluster would inflate
    # the mean-based threshold - the masking limit the docstring
    # documents)
    n = 300
    x = rng.normal(0, 0.02, (n, 64)) + 0.3
    for i in range(2):
        x[250 + i] = 10.0 + i  # mis-embedded garbage
    rows = [(i, [float(v) for v in x[i]], 0) for i in range(n)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf}/embeddings.parquet")

    from meteaudata_spark.ext.simsearch import emb_outliers

    out = emb_outliers(spark, sf).collect()
    assert sum(r["n_outliers"] for r in out) >= 2
    assert sum(r["n_vectors"] for r in out) == n
    shutil.rmtree(f"{sf}/embeddings.parquet")


def test_robust_outlier_fence_defeats_masking(spark, tmp_path):
    """The mean fence masks when garbage dominates a small cluster's
    distance mass; the median fence (robust=True) must catch all of
    it — the documented upgrade path, implemented."""
    import shutil

    import numpy as np

    sf = str(tmp_path)
    rng = np.random.default_rng(9)
    n = 300
    x = rng.normal(0, 0.02, (n, 64)) + 0.3
    for i in range(5):
        x[250 + i] = 10.0 + i  # the masking scenario from the mean test
    rows = [(i, [float(v) for v in x[i]], 0) for i in range(n)]
    spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    ).write.parquet(f"{sf}/embeddings.parquet")
    from meteaudata_spark.ext.simsearch import emb_outliers

    robust_total = sum(
        r["n_outliers"] for r in emb_outliers(spark, sf, robust=True).collect()
    )
    assert robust_total >= 5, robust_total
    shutil.rmtree(f"{sf}/embeddings.parquet")


def test_ivfpq_delta_append_matches_full_rebuild(spark, tmp_path):
    from meteaudata_spark.ext.simsearch import (
        append_ivfpq_delta,
        build_ivfpq_index,
        ivfpq_search,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    is_delta = (F.col("vec_id") % 4 == 3) & (F.col("vec_id") >= 200)
    base, delta = emb.filter(~is_delta), emb.filter(is_delta)
    assert delta.count() > 0

    full_idx = str(tmp_path / "full")
    inc_idx = str(tmp_path / "inc")
    build_ivfpq_index(emb, full_idx)
    build_ivfpq_index(base, inc_idx)
    append_ivfpq_delta(spark, inc_idx, delta)

    queries = emb.filter(F.col("vec_id") < 3)
    got = ivfpq_search(spark, inc_idx, queries).collect()
    want = ivfpq_search(spark, full_idx, queries).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 30


def test_ivfpq_delta_append_only_touches_delta_rows(spark, tmp_path):
    """The append must not rewrite existing code files: the codes
    relation afterwards holds base + delta rows exactly once each."""
    from meteaudata_spark.ext.simsearch import (
        append_ivfpq_delta,
        build_ivfpq_index,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    is_delta = (F.col("vec_id") % 4 == 3) & (F.col("vec_id") >= 200)
    base, delta = emb.filter(~is_delta), emb.filter(is_delta)
    idx = str(tmp_path / "inc")
    build_ivfpq_index(base, idx)
    before = {
        r["vec_id"]
        for r in spark.read.parquet(f"{idx}/codes").select("vec_id").distinct().collect()
    }
    append_ivfpq_delta(spark, idx, delta)
    codes = spark.read.parquet(f"{idx}/codes")
    per_vec = codes.groupBy("vec_id").count().collect()
    # every vector has exactly 8 code rows (one per subspace)
    assert all(r["count"] == 8 for r in per_vec)
    after = {r["vec_id"] for r in codes.select("vec_id").distinct().collect()}
    assert after == before | {r["vec_id"] for r in delta.select("vec_id").collect()}


def test_ivfpq_delta_encode_is_map_only(spark):
    """The delta encode plan: two tiny broadcasts, no shuffle of the
    delta rows themselves (no Exchange above the delta scan), no
    window — the FAISS add() shape that makes appends O(delta)."""
    from meteaudata_spark.ext.simsearch import (
        _ivfpq_cb_arrays,
        _ivfpq_encode,
        _ivfpq_index,
        _q64,
    )
    from meteaudata_spark.plans import inspect

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    coarse, rcb, _ = _ivfpq_index(emb.filter(F.col("vec_id") < 200))
    cb_arr, rcb_arr = _ivfpq_cb_arrays(coarse, rcb)
    delta = emb.filter(F.col("vec_id") >= 200).select(
        "vec_id", _q64("embedding").alias("qe")
    )
    plan = inspect.formatted_plan(_ivfpq_encode(delta, cb_arr, rcb_arr))
    assert "Window" not in plan
    assert "SortMergeJoin" not in plan
    assert "CartesianProduct" not in plan
    # the only joins are broadcast (codebooks ride to the delta rows)
    assert "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def test_ivfpq_delete_matches_rebuild_on_survivors(spark, tmp_path):
    from meteaudata_spark.ext.simsearch import (
        build_ivfpq_index,
        delete_ivfpq_ids,
        ivfpq_search,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    dead = (F.col("vec_id") % 5 == 2) & (F.col("vec_id") >= 200)
    survivors = emb.filter(~dead)
    assert emb.count() > survivors.count()

    full_idx = str(tmp_path / "full")
    ref_idx = str(tmp_path / "ref")
    build_ivfpq_index(emb, full_idx)
    build_ivfpq_index(survivors, ref_idx)
    delete_ivfpq_ids(spark, full_idx, emb.filter(dead).select("vec_id"))

    queries = emb.filter(F.col("vec_id") < 3)
    got = ivfpq_search(spark, full_idx, queries).collect()
    want = ivfpq_search(spark, ref_idx, queries).collect()
    assert [tuple(r) for r in got] == [tuple(r) for r in want]
    assert len(got) == 30
    # deleted ids are really gone from the codes relation
    import pyspark.sql.functions as SF_

    left = spark.read.parquet(f"{full_idx}/codes")
    assert left.filter(
        (SF_.col("vec_id") % 5 == 2) & (SF_.col("vec_id") >= 200)
    ).count() == 0


def test_ivfpq_delete_rewrites_only_affected_lists(spark, tmp_path):
    """Dynamic partition overwrite: inverted lists holding no deleted
    vector keep their files byte-for-byte (mtime + size unchanged)."""
    import os

    from meteaudata_spark.ext.simsearch import (
        build_ivfpq_index,
        delete_ivfpq_ids,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "idx")
    build_ivfpq_index(emb, idx)
    codes = spark.read.parquet(f"{idx}/codes")
    # delete every vector of exactly ONE list (so every other list
    # must stay untouched)
    target = codes.groupBy("centroid_id").count().orderBy("count").collect()[0][
        "centroid_id"
    ]
    dead = codes.filter(F.col("centroid_id") == target).select("vec_id").distinct()

    def snapshot():
        out = {}
        for d in os.listdir(f"{idx}/codes"):
            if not d.startswith("centroid_id="):
                continue
            p = f"{idx}/codes/{d}"
            out[d] = sorted(
                (f, os.path.getmtime(f"{p}/{f}"), os.path.getsize(f"{p}/{f}"))
                for f in os.listdir(p)
                if f.endswith(".parquet")
            )
        return out

    before = snapshot()
    delete_ivfpq_ids(spark, idx, dead)
    after = snapshot()
    # deleting EVERY vector of the list empties it: dynamic partition
    # overwrite alone would leave its stale files (writes zero rows
    # for it), so delete_ivfpq_ids must drop the directory explicitly
    assert f"centroid_id={target}" not in after
    untouched = [d for d in before if d != f"centroid_id={target}"]
    assert all(before[d] == after[d] for d in untouched), "other lists rewritten"
    # and the codes relation no longer holds the list
    left = spark.read.parquet(f"{idx}/codes")
    assert left.filter(F.col("centroid_id") == target).count() == 0


def test_ivfpq_delta_append_is_idempotent(spark, tmp_path):
    """ADVICE r13: re-running the same delta (retry, duplicate
    trigger) must append nothing — vec_ids already in the index are
    anti-joined out."""
    from meteaudata_spark.ext.simsearch import (
        append_ivfpq_delta,
        build_ivfpq_index,
        ivfpq_search,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    is_delta = (F.col("vec_id") % 4 == 3) & (F.col("vec_id") >= 200)
    base, delta = emb.filter(~is_delta), emb.filter(is_delta)
    idx = str(tmp_path / "idx")
    build_ivfpq_index(base, idx)
    append_ivfpq_delta(spark, idx, delta)
    queries = emb.filter(F.col("vec_id") < 3)
    want = [tuple(r) for r in ivfpq_search(spark, idx, queries).collect()]
    n_rows = spark.read.parquet(f"{idx}/codes").count()

    append_ivfpq_delta(spark, idx, delta)  # duplicate trigger
    assert spark.read.parquet(f"{idx}/codes").count() == n_rows
    per_vec = (
        spark.read.parquet(f"{idx}/codes").groupBy("vec_id").count().collect()
    )
    assert all(r["count"] == 8 for r in per_vec)  # still 8 rows/vector
    got = [tuple(r) for r in ivfpq_search(spark, idx, queries).collect()]
    assert got == want


def test_ivfpq_delete_pending_marker_makes_partial_delete_detectable(
    spark, tmp_path
):
    """ADVICE r13: a crashed delete must be detectable — searches and
    appends refuse an index carrying the _delete_pending marker, and a
    completed delete clears it."""
    import os

    import pytest

    from meteaudata_spark.ext.simsearch import (
        append_ivfpq_delta,
        build_ivfpq_index,
        delete_ivfpq_ids,
        ivfpq_search,
    )

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    idx = str(tmp_path / "idx")
    build_ivfpq_index(emb, idx)
    queries = emb.filter(F.col("vec_id") < 1)

    # simulate a crash mid-delete: marker present, files half-mutated
    open(f"{idx}/_delete_pending", "w").close()
    with pytest.raises(RuntimeError, match="_delete_pending"):
        ivfpq_search(spark, idx, queries)
    with pytest.raises(RuntimeError, match="_delete_pending"):
        append_ivfpq_delta(spark, idx, emb.filter(F.col("vec_id") < 0))

    # re-running the delete is the repair path and clears the marker
    dead = (F.col("vec_id") % 5 == 2) & (F.col("vec_id") >= 200)
    delete_ivfpq_ids(spark, idx, emb.filter(dead).select("vec_id"))
    assert not os.path.exists(f"{idx}/_delete_pending")
    assert len(ivfpq_search(spark, idx, queries).collect()) == 10


def _q64_np(v):
    """Spark round() emulation: half AWAY FROM ZERO (np.round is
    banker's and diverges on exact .5 products)."""
    import numpy as np

    x = v * (1 << 20)
    return np.copysign(np.floor(np.abs(x) + 0.5), x)


def test_ivfpq_arrow_encode_bit_identical_to_expression_encode(spark):
    """The Arrow-vectorized append-path encode must match the
    expression-fold encode row-for-row (same coarse assignment, same
    PQ codes, same tie-breaks) — integer-exact float64 GEMM vs the
    SQL fold.  Codebooks trained on a SUBSET so plenty of encoded
    vectors sit far from training data (stressing ties/ordering)."""
    from meteaudata_spark.ext import simsearch as ss

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    coarse, rcb, _ = ss._ivfpq_index(emb.filter(F.col("vec_id") < 300))
    cb_arr, rcb_arr = ss._ivfpq_cb_arrays(coarse, rcb)
    q = emb.select("vec_id", ss._q64("embedding").alias("qe"))
    a = sorted(map(tuple, ss._ivfpq_encode(q, cb_arr, rcb_arr).collect()))
    b = sorted(
        map(tuple, ss._ivfpq_encode_arrow(q, cb_arr, rcb_arr).collect())
    )
    assert len(a) == emb.count() * 8
    assert a == b


def test_probe_sweep_invariants(spark):
    """Candidate coverage must be monotone non-decreasing in n_probe
    per query, post-PQ-ranking hits can never exceed coverage, and the
    deepest sweep point's coverage equals |exact top-10 ∩ all probed
    lists| recomputed independently."""
    from meteaudata_spark.ext import simsearch as ss

    rows = ss.emb_ivfpq_probe_sweep(spark, SF).collect()
    by_q: dict = {}
    for r in rows:
        assert r["hits"] <= r["cand_hits"], tuple(r)
        assert r["recall_bp"] == r["hits"] * 1000
        assert r["cand_recall_bp"] == r["cand_hits"] * 1000
        by_q.setdefault(r["query_id"], []).append(
            (r["n_probe"], r["cand_hits"])
        )
    for q, pts in by_q.items():
        pts.sort()
        assert [p for p, _ in pts] == sorted(ss._PROBE_SWEEP), q
        covs = [c for _, c in pts]
        assert covs == sorted(covs), (q, covs)


def test_pq_distortion_matches_numpy_reference(spark):
    """Per-list distortion rollup vs a NumPy recomputation of
    Σ_subs min_code ||resid_sub − codeword||² for every vector."""
    import numpy as np

    from meteaudata_spark.ext import simsearch as ss

    got = {
        r["centroid_id"]: (
            r["n_vecs"],
            r["total_distortion"],
            r["avg_distortion"],
            r["max_distortion"],
        )
        for r in ss.emb_pq_distortion(spark, SF).collect()
    }
    store = {
        r["vec_id"]: _q64_np(np.array(r["embedding"], dtype=np.float64))
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }
    cents = {
        cid: store[cid] for cid in range(100, 100 + ss._IVFPQ_COARSE)
    }
    cid_sorted = sorted(cents)
    C = np.array([cents[c] for c in cid_sorted])

    def assign(v):
        d = ((v - C) ** 2).sum(axis=1)
        return cid_sorted[int(d.argmin())]

    # codebook = residual subvectors of the training vectors (<16)
    cb: dict = {}
    for vid in range(ss._PQ_CODES):
        r = store[vid] - cents[assign(store[vid])]
        for s in range(ss._PQ_SUBS):
            cb.setdefault(s, []).append(
                r[s * ss._PQ_SUBDIM : (s + 1) * ss._PQ_SUBDIM]
            )
    agg: dict = {}
    for vid, v in store.items():
        c = assign(v)
        resid = v - cents[c]
        dist = 0
        for s in range(ss._PQ_SUBS):
            sub = resid[s * ss._PQ_SUBDIM : (s + 1) * ss._PQ_SUBDIM]
            dist += int(
                min(((sub - w) ** 2).sum() for w in cb[s])
            )
        a = agg.setdefault(c, [0, 0, 0])
        a[0] += 1
        a[1] += dist
        a[2] = max(a[2], dist)
    want = {
        c: (n, tot, tot // n, mx) for c, (n, tot, mx) in agg.items()
    }
    assert got == want


def test_ivfpq_refine_distances_are_exact_and_reorder_approx(spark):
    """The refine tail must (a) report TRUE quantized squared-L2
    distances (verified against a NumPy recomputation), (b) rank by
    them, and (c) actually differ from the PQ-approximate row —
    otherwise it is a shadow of emb_ivfpq_topk."""
    import numpy as np

    from meteaudata_spark.ext.simsearch import (
        emb_ivfpq_refine_topk,
        emb_ivfpq_topk,
    )

    got = emb_ivfpq_refine_topk(spark, SF).collect()
    emb = {
        r["vec_id"]: _q64_np(np.array(r["embedding"], dtype=np.float64))
        for r in spark.read.parquet(f"{SF}/embeddings.parquet").collect()
    }
    for r in got:
        d = emb[r["query_id"]] - emb[r["vec_id"]]
        assert int((d * d).sum()) == r["exact_sqdist"], (r["query_id"], r["vec_id"])
    # ranks ascend by exact distance within each query
    by_q: dict = {}
    for r in got:
        by_q.setdefault(r["query_id"], []).append((r["rank"], r["exact_sqdist"]))
    for q, rows in by_q.items():
        rows.sort()
        assert [x[0] for x in rows] == list(range(1, len(rows) + 1)), q
        assert all(a[1] <= b[1] for a, b in zip(rows, rows[1:])), q
    approx = [
        (r["query_id"], r["vec_id"]) for r in emb_ivfpq_topk(spark, SF).collect()
    ]
    refined = [(r["query_id"], r["vec_id"]) for r in got]
    assert approx != refined  # compression error visibly corrected


def test_ivfpq_refine_recovers_exact_topk_within_probed_lists(spark):
    """With the candidate pool widened to the whole probed-list
    population, the refined top-10 equals the EXACT top-10 over those
    lists — the recall-recovery certificate for the refine stage."""
    import numpy as np
    from pyspark.sql import Window

    from meteaudata_spark.ext import simsearch as ss

    emb_df = spark.read.parquet(f"{SF}/embeddings.parquet")
    emb = ss._emb(spark, SF)
    coarse, rcb, codes = ss._ivfpq_index(emb)
    qv = emb.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), ss._q64("embedding").alias("q_qe")
    )
    big_c = emb_df.count()  # candidate pool = everything PQ can see
    cand = ss._ivfpq_search_relations(
        coarse, rcb, codes, qv, big_c, ss._IVFPQ_NPROBE
    )
    pool = {
        (r["query_id"], r["vec_id"]) for r in cand.collect()
    }
    store = {
        r["vec_id"]: _q64_np(np.array(r["embedding"], dtype=np.float64))
        for r in emb_df.collect()
    }
    # exact refine over the widened pool (reuse the production tail)
    exact = (
        emb.select("vec_id", ss._q64("embedding").alias("qe"))
        .join(F.broadcast(cand.select("query_id", "vec_id")), "vec_id")
        .join(F.broadcast(qv), "query_id")
        .withColumn(
            "exact_sqdist", F.expr(ss._PQ_SQDIST.format(a="q_qe", b="qe"))
        )
        .withColumn(
            "rank",
            F.row_number().over(
                Window.partitionBy("query_id").orderBy(
                    "exact_sqdist", F.col("vec_id")
                )
            ),
        )
        .filter(F.col("rank") <= 10)
        .collect()
    )
    got = {
        q: [v for _, v in sorted((r["rank"], r["vec_id"]) for r in exact if r["query_id"] == q)]
        for q in {r["query_id"] for r in exact}
    }
    for q in got:
        dists = sorted(
            (int(((store[q] - store[v]) ** 2).sum()), v)
            for (qq, v) in pool
            if qq == q
        )
        want = [v for _, v in dists[:10]]
        assert got[q] == want, q


# ----------------------------------------------------------------------
# hard negatives
# ----------------------------------------------------------------------
def test_hard_negatives_excludes_same_label_and_ranks_by_cosine(spark):
    # query 0 (label 0): nearest overall is vec 1 (same label,
    # excluded); nearest cross-label must be vec 2, then vec 3.
    rows = [
        (0, [1.0, 0.0, 0.0], 0),
        (1, [0.999, 0.01, 0.0], 0),   # same label — must NOT appear
        (2, [0.9, 0.1, 0.0], 1),
        (3, [0.5, 0.5, 0.0], 1),
        (4, [0.0, 1.0, 0.0], 2),
    ]
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<float>, label int"
    )
    out = simsearch.hard_negatives(emb, n_queries=1, k=3).toPandas()
    assert (out["label"] != 0).all()
    assert out["vec_id"].tolist() == [2, 3, 4]
    assert out["cosine"].is_monotonic_decreasing
