"""Streaming semantic near-dup detector
(streaming/semdedup_stream.py): exact re-sends are flagged across
micro-batches, unique vectors aren't, routing matches the batch
assignment exactly, and the representative ring buffer stays bounded."""

import os
import shutil
import time

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F


def _centroids(k=4, dim=16):
    # k well-separated axis centroids
    out = []
    for c in range(k):
        v = np.zeros(dim, np.float64)
        v[c] = 1.0
        out.append((100 + c, v.tolist()))
    return out


def _vec(axis, wobble, dim=16, eps=0.01):
    v = np.zeros(dim, np.float64)
    v[axis] = 1.0
    v[(axis + 5) % dim] = eps * wobble
    return v.tolist()


def _write_one_per_batch(spark, tmp_path, rows):
    src = str(tmp_path / "src")
    os.makedirs(src)
    schema = None
    now = time.time()
    for i, (vec_id, emb) in enumerate(rows):
        staging = str(tmp_path / f"stage{i}")
        pdf = pd.DataFrame({"vec_id": [vec_id], "embedding": [emb]})
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(staging)
        schema = spark.read.parquet(staging).schema
        part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        dst = f"{src}/{i}.parquet"
        shutil.copy(f"{staging}/{part}", dst)
        os.utime(dst, (now - 300 + i * 60, now - 300 + i * 60))
    return src, schema


def test_stream_flags_resend_across_batches(spark, tmp_path, drain):
    from meteaudata_spark.streaming.semdedup_stream import (
        stream_semantic_dup_candidates,
    )

    rows = [
        (1, _vec(0, 1)),   # cluster 100, first seen
        (2, _vec(1, 2)),   # cluster 101, first seen
        (3, _vec(0, 1)),   # exact re-send of vec 1 -> flag vs rep 1
        (4, _vec(1, -9)),  # cluster 101 but dissimilar wobble... still cos≈1
    ]
    src, schema = _write_one_per_batch(spark, tmp_path, rows)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    out = stream_semantic_dup_candidates(
        stream, _centroids(), threshold=0.9999
    )
    got = drain(out).toPandas()
    # only the exact re-send crosses the 0.9999 bar
    assert list(got["vec_id"]) == [3], got
    assert list(got["rep_id"]) == [1], got
    assert list(got["centroid_id"]) == [100], got
    assert (got["cosine"] == 1.0).all(), got


def test_stream_routing_matches_batch_assignment(spark, tmp_path, drain):
    """Each vector must land in the same cluster as the batch
    fast-assign path puts it."""
    from meteaudata_spark.ext.simsearch import _l2_assign_fast, _q64
    from meteaudata_spark.streaming.semdedup_stream import (
        stream_semantic_dup_candidates,
    )

    rng = np.random.default_rng(5)
    cents = [(100 + c, rng.normal(size=16).tolist()) for c in range(6)]
    vecs = [(i, rng.normal(size=16).tolist()) for i in range(40)]

    batch = spark.createDataFrame(
        pd.DataFrame(
            {
                "vec_id": [v[0] for v in vecs] + [c[0] for c in cents],
                "embedding": [v[1] for v in vecs] + [c[1] for c in cents],
            }
        )
    )
    q = batch.select("vec_id", "embedding", _q64("embedding").alias("qe"))
    cent_rows = q.filter(F.col("vec_id") >= 100).select("vec_id", "qe").collect()
    want = {
        r["vec_id"]: r["centroid_id"]
        for r in _l2_assign_fast(
            q.filter(F.col("vec_id") < 100),
            [(r["vec_id"], r["qe"]) for r in cent_rows],
        ).collect()
    }

    # stream all 40 in one batch with threshold > 1 so every vector is
    # stored (never flagged); recover routing from the state by
    # re-sending each vector in a second pass
    src, schema = None, None
    first = [(v[0], v[1]) for v in vecs]
    resend = [(v[0] + 1000, v[1]) for v in vecs]
    os.makedirs(str(tmp_path / "src"))
    now = time.time()
    for bi, batch_rows in enumerate([first, resend]):
        staging = str(tmp_path / f"stage{bi}")
        pdf = pd.DataFrame(
            {
                "vec_id": [r[0] for r in batch_rows],
                "embedding": [r[1] for r in batch_rows],
            }
        )
        spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(staging)
        schema = spark.read.parquet(staging).schema
        part = next(f for f in os.listdir(staging) if f.endswith(".parquet"))
        dst = str(tmp_path / "src" / f"{bi}.parquet")
        shutil.copy(f"{staging}/{part}", dst)
        os.utime(dst, (now - 300 + bi * 60, now - 300 + bi * 60))

    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(str(tmp_path / "src"))
    )
    out = stream_semantic_dup_candidates(stream, cents, threshold=0.9999)
    got = drain(out).toPandas()
    # every re-send flags against its original, in the batch-assigned cluster
    assert len(got) == 40, got
    for _, r in got.iterrows():
        orig = r["vec_id"] - 1000
        assert r["rep_id"] == orig
        assert r["centroid_id"] == want[orig]


def test_ring_buffer_bounds_state(spark, tmp_path, drain):
    """max_reps=2: the first representative is evicted after two more
    uniques, so a re-send of it is NOT flagged (bounded horizon by
    design)."""
    from meteaudata_spark.streaming.semdedup_stream import (
        stream_semantic_dup_candidates,
    )

    rows = [
        (1, _vec(0, 1)),
        (2, _vec(0, 30)),   # same cluster, below threshold vs 1 -> buffer [1,2]
        (3, _vec(0, -40)),  # stored, evicts rep 1 -> buffer [2,3]
        (4, _vec(0, 1)),    # re-send of 1: its rep was EVICTED -> stored,
                            # not flagged (bounded horizon) -> buffer [3,4]
        (5, _vec(0, 1)),    # re-send of 4: IN buffer -> flagged vs 4,
                            # not stored -> buffer stays [3,4]
        (6, _vec(0, 1)),    # flagged vs 4 again (dups never displace reps)
    ]
    src, schema = _write_one_per_batch(spark, tmp_path, rows)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    out = stream_semantic_dup_candidates(
        stream, _centroids(), threshold=0.9999, max_reps=2
    )
    got = drain(out).toPandas().sort_values("vec_id")
    assert list(got["vec_id"]) == [5, 6], got
    assert list(got["rep_id"]) == [4, 4], got


def test_rejects_bad_knobs(spark):
    from meteaudata_spark.streaming.semdedup_stream import (
        stream_semantic_dup_candidates,
    )

    df = spark.createDataFrame(
        pd.DataFrame({"vec_id": [1], "embedding": [[1.0, 0.0]]})
    )
    with pytest.raises(ValueError):
        stream_semantic_dup_candidates(df, [])
    with pytest.raises(ValueError):
        stream_semantic_dup_candidates(df, [(0, [1.0, 0.0])], max_reps=0)


def test_chunked_update_matches_sequential_reference():
    """The r12 chunked two-phase _update_cluster must reproduce the
    old per-arrival sequential semantics decision-for-decision:
    randomized streams with planted near-dups, tiny max_reps (heavy
    ring eviction), and chunk-boundary-straddling dup chains."""
    import numpy as np
    import pandas as pd

    from meteaudata_spark.streaming.semdedup_stream import _update_cluster

    class FakeState:
        def __init__(self):
            self.exists = False
            self.hasTimedOut = False
            self._v = None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v
            self.exists = True

        def remove(self):
            self._v, self.exists = None, False

    def reference(stream, threshold, max_reps, dim):
        """The pre-r12 per-arrival loop, verbatim semantics."""
        reps, nrm, ids, out = [], [], [], []
        for vid, x in stream:
            x = np.asarray(x, dtype=np.float64)
            xn = x / max(float(np.linalg.norm(x)), 1e-300)
            if reps:
                m = np.stack(reps)
                sims = (m @ xn) / np.asarray(nrm)
                b = int(sims.argmax())
                if round(float(sims[b]), 6) >= threshold:
                    out.append((vid, ids[b], round(float(sims[b]), 6)))
                    continue
            reps.append(x)
            nrm.append(max(float(np.linalg.norm(x)), 1e-300))
            ids.append(vid)
            if len(reps) > max_reps:
                reps.pop(0), nrm.pop(0), ids.pop(0)
        return out, ids

    rng = np.random.default_rng(7)
    dim = 16
    for trial, (n, max_reps, thr, dup_rate) in enumerate(
        [(400, 8, 0.95, 0.3), (600, 64, 0.9, 0.05),
         (300, 3, 0.99, 0.5), (500, 200, 0.92, 0.8)]
    ):
        base = rng.normal(size=(n, dim))
        stream = []
        for i in range(n):
            if i > 4 and rng.random() < dup_rate:
                j = int(rng.integers(max(0, i - 2 * max_reps), i))
                v = base[j] + rng.normal(scale=1e-4, size=dim)
            else:
                v = base[i]
            stream.append((i, v.tolist()))
        # the operator quantizes inputs to float32 at ingestion; the
        # reference sees the same quantized values
        stream = [
            (v, np.asarray(e, dtype=np.float32).astype(np.float64))
            for v, e in stream
        ]
        ref_out, ref_ids = reference(stream, thr, max_reps, dim)

        st = FakeState()
        # feed in several micro-batches with awkward split points,
        # packed the way the mapInPandas stage packs (and split into
        # two blobs per batch to exercise multi-blob unpack+sort)
        got = []
        for sl in (slice(0, n // 3), slice(n // 3, n // 2),
                   slice(n // 2, n)):
            part = stream[sl]
            vids = np.array([v for v, _ in part], dtype=np.int64)
            embs = np.array(
                [e for _, e in part], dtype=np.float32
            ).reshape(len(part), dim)
            h = max(1, len(part) // 2)
            pdf = pd.DataFrame(
                {
                    "centroid_id": [42, 42],
                    "vec_ids": [
                        vids[h:].tobytes(), vids[:h].tobytes()
                    ],
                    "embs": [
                        np.ascontiguousarray(embs[h:]).tobytes(),
                        np.ascontiguousarray(embs[:h]).tobytes(),
                    ],
                }
            )
            for res in _update_cluster(
                (42,), iter([pdf]), st, thr, max_reps, dim
            ):
                got.extend(
                    (int(r.vec_id), int(r.rep_id), float(r.cosine))
                    for r in res.itertuples()
                )
        assert got == ref_out, f"trial {trial}: decisions diverge"
        got_ids = np.frombuffer(st.get[0], dtype=np.int64).tolist()
        assert got_ids == ref_ids, f"trial {trial}: state diverges"


def test_intra_cluster_shards_still_catch_resends(spark, tmp_path, drain):
    """R>1: content-addressed slices — exact re-sends route to the
    same slice as their original and are still flagged; knob
    validation."""
    from meteaudata_spark.streaming.semdedup_stream import (
        stream_semantic_dup_candidates,
    )

    rows = [(i, _vec(i % 2, i)) for i in range(1, 7)]
    rows += [(100 + i, _vec(i % 2, i)) for i in range(1, 7)]  # re-sends
    src, schema = _write_one_per_batch(spark, tmp_path, rows)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .option("latestFirst", "false")
        .parquet(src)
    )
    out = stream_semantic_dup_candidates(
        stream, _centroids(), threshold=0.9999, intra_cluster_shards=4
    )
    got = drain(out).toPandas().sort_values("vec_id")
    # every re-send flagged against its exact original, and the
    # emitted centroid_id is the ORIGINAL cluster id (slice stripped)
    assert list(got["vec_id"]) == [101, 102, 103, 104, 105, 106], got
    assert list(got["rep_id"]) == [1, 2, 3, 4, 5, 6], got
    assert set(got["centroid_id"]) <= {100, 101}, got
    assert (got["cosine"] == 1.0).all(), got

    with pytest.raises(ValueError, match="positive"):
        stream_semantic_dup_candidates(
            spark.createDataFrame(
                pd.DataFrame({"vec_id": [1], "embedding": [[1.0, 0.0]]})
            ),
            _centroids(),
            intra_cluster_shards=0,
        )
