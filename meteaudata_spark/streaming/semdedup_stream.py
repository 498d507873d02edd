"""Streaming semantic near-duplicate detection: cluster-routed cosine
against a bounded per-cluster representative memory
(``applyInPandasWithState``).

The batch SemDeDup (``ext/simsearch.py:semdedup``) mines within-cluster
PAIRS — a batch-only shape.  The streaming analog answers the online
question: *is this incoming embedding semantically a duplicate of
anything seen so far?*  Per micro-batch:

1. an Arrow-batched Pandas UDF assigns each vector to its nearest
   centroid with the SAME exact integer quantized-L2 argmin as the
   batch path (2²⁰ quantization, float64 sums of integers < 2⁵³ are
   exact, ties to the lowest centroid id) — so a vector routes to the
   same cluster online as it would in batch;
2. ``applyInPandasWithState`` keyed on centroid_id keeps a RING BUFFER
   of up to ``max_reps`` representative embeddings per cluster; an
   arriving vector is compared (one numpy matmul) against its
   cluster's representatives only — the SemDeDup trick, online;
3. cosine ≥ threshold → emit a candidate row and do NOT store the
   duplicate; otherwise the vector becomes a representative (oldest
   evicted when the buffer is full).

State is bounded at ``max_reps × dim`` float32 per cluster regardless
of stream length — the knob trades recall horizon for memory, exactly
like the TTL on the MinHash detector.  Exact re-sends are always
caught while their representative is in the buffer; *chains* of
borderline near-dups can differ from batch pair semantics (the batch
operator compares against dropped vectors too; the online one only
against stored representatives).

Throughput design (r12): embeddings travel and rest as float32 (the
embeddings table's own element type — lossless for real sources;
float64 feeds are quantized once at ingestion), all scoring runs in
float64 on the quantized values, and the per-cluster update is
CHUNKED: per chunk of B ≤ max_reps arrivals, one float32 fence GEMM
against the pre-normalized representative window plus one intra-chunk
pairwise GEMM bound every row's best-possible cosine; chunks whose
fence stays below threshold − 1e-3 admit wholesale with zero per-row
Python, and only fence-flagged candidates resolve exactly (float64,
argmax-first tie semantics, per-arrival eviction accounting) — the
sequential per-arrival semantics are preserved decision-for-decision
(randomized differential test vs the per-arrival reference).  State
rides as packed binary blobs (one memcpy per Arrow hop instead of
per-element list conversion).
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterator, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    LongType,
    StructField,
    StructType,
)

_Q = 1 << 20  # same quantizer as ext/simsearch.py

_CANDIDATE_SCHEMA = StructType(
    [
        StructField("vec_id", LongType()),
        StructField("centroid_id", LongType()),
        StructField("rep_id", LongType()),
        StructField("cosine", DoubleType()),
    ]
)

# state rides as PACKED BINARY (np .tobytes()): Arrow and UnsafeRow
# treat it as one memcpy each way, where ArrayType(Double) state paid
# an element-wise conversion on every micro-batch commit (measured
# 6.6 s of a 16.7 s batch at 64 clusters x 4096 reps x 64 dims)
_CLUSTER_STATE_SCHEMA = StructType(
    [
        StructField("rep_ids", BinaryType()),
        StructField("reps_flat", BinaryType()),
    ]
)


@lru_cache(maxsize=8)
def _tri_mask(nb: int) -> np.ndarray:
    """Strictly-lower-triangular bool mask, cached per chunk size (the
    chunk loop re-allocated it ~39k times per 10M-row batch)."""
    return np.tri(nb, k=-1, dtype=bool)


def _update_cluster(
    key: Tuple[int],
    pdfs: Iterator[pd.DataFrame],
    state: GroupState,
    threshold: float,
    max_reps: int,
    dim: int,
) -> Iterator[pd.DataFrame]:
    if state.hasTimedOut:
        state.remove()
        return
    if state.exists:
        rep_ids_raw, reps_flat = state.get
        rep_ids0 = np.frombuffer(rep_ids_raw, dtype=np.int64)
        k0 = len(rep_ids0)
        # float32 at rest AND in the ring (inputs are float32-
        # quantized, so every float64 view of these values is exact);
        # float64 twins materialize only on the rare candidate path
        reps0 = np.frombuffer(reps_flat, dtype=np.float32).reshape(
            -1, dim
        )
    else:
        k0 = 0
        rep_ids0 = np.empty(0, dtype=np.int64)
        reps0 = np.empty((0, dim), dtype=np.float32)
    rows = {k: [] for k in ("vec_id", "centroid_id", "rep_id", "cosine")}
    # deterministic arrival order within the micro-batch: the iterator
    # yields ARROW-CHUNK-sized frames whose boundaries depend on the
    # shuffle, so the sort must run over the concatenated group, not
    # per chunk
    chunks = [pdf for pdf in pdfs if len(pdf)]
    n_in = 0
    if chunks:
        # arrivals come PACKED (one row per upstream partition ×
        # centroid, binary blobs) so the stateful stage's Arrow feed
        # is thousands of fat rows, not one row per vector — the
        # per-row serializer overhead was the single largest cost at
        # 10M events.  Deterministic arrival order within the
        # micro-batch: sort the unpacked union by vec_id, exactly as
        # the row-per-vector version sorted its concatenated group.
        vid_parts, emb_parts = [], []
        for pdf in chunks:
            for vb, eb in zip(pdf["vec_ids"], pdf["embs"]):
                vid_parts.append(np.frombuffer(vb, dtype=np.int64))
                emb_parts.append(
                    np.frombuffer(eb, dtype=np.float32).reshape(-1, dim)
                )
        vec_ids_all = np.concatenate(vid_parts)
        srt = np.argsort(vec_ids_all, kind="stable")
        n_in = len(vec_ids_all)
        # GROW-ONLY buffer: the ring evicts only the OLDEST and
        # appends only at the end, so the live window is always a
        # contiguous slice [lo:hi) of an append-only matrix.
        cap = k0 + n_in
        # the ring rides in float32 (exactly the at-rest values);
        # norms stay float64 and are computed from the exact float64
        # view, so the candidate path's arithmetic is unchanged
        buf = np.empty((cap, dim), dtype=np.float32)
        nrm = np.empty(cap, dtype=np.float64)
        ids = np.empty(cap, dtype=np.int64)
        if k0:
            buf[:k0] = reps0
            nrm[:k0] = np.maximum(
                np.linalg.norm(reps0.astype(np.float64), axis=1), 1e-300
            )
            ids[:k0] = rep_ids0
        lo, hi = 0, k0
        # CHUNKED two-phase resolution (r12 throughput rewrite, 55k →
        # 200k+ vecs/s).  Per chunk of B ≤ max_reps arrivals:
        # 1. a FLOAT32 fence GEMM against the pre-normalized existing
        #    window plus a float32 intra-chunk pairwise GEMM give each
        #    row an upper-bound cosine over the maximal window it
        #    could possibly see (full chunk-start window + every
        #    earlier chunk row).  Rows below threshold − FENCE_EPS are
        #    DEFINITE non-dups (float32 dot error over unit vectors is
        #    ≤ ~dim·2⁻²³ ≈ 1e-5 at dim 1k; the margin is 100×) and
        #    admit without any per-row work.
        # 2. only fence-flagged candidate rows are resolved EXACTLY in
        #    float64 against their true window: the suffix [ev:] of
        #    the chunk-start window (B ≤ max_reps guarantees reps
        #    admitted this chunk are never evicted within it) plus the
        #    chunk rows admitted before them.  All emitted cosines and
        #    all admit/drop decisions come from float64 only.
        # Ties keep the argmax-first semantics: existing reps precede
        # new ones, admission order within new.
        X32 = np.vstack(emb_parts)[srt]
        # norms + normalized float32 rows, CHUNKED through a float64
        # scratch (values identical to the old whole-batch float64
        # pipeline — norm and divide are row-wise, so chunking cannot
        # change the arithmetic — without ever holding the 2×8-byte
        # n×dim twins that dominated memory traffic at 10M rows)
        Xnrm = np.empty(n_in, dtype=np.float64)
        Xn32 = np.empty((n_in, dim), dtype=np.float32)
        for a in range(0, n_in, 65536):
            b = min(a + 65536, n_in)
            t64 = X32[a:b].astype(np.float64)
            Xnrm[a:b] = np.maximum(
                np.linalg.norm(t64, axis=1), 1e-300
            )
            Xn32[a:b] = (t64 / Xnrm[a:b, None]).astype(np.float32)
        vec_ids = vec_ids_all[srt]
        # normalized float32 twin of the rep ring (fence side only)
        bufn32 = np.empty((cap, dim), dtype=np.float32)
        if k0:
            bufn32[:k0] = (
                reps0.astype(np.float64) / nrm[:k0, None]
            ).astype(np.float32)
        # fence safety margin: a float32 dot of two unit vectors
        # carries at most ~dim·2⁻²⁴ rounding error (plus the 6-dp
        # output rounding of the exact path); 32× that bound keeps
        # the fence sound with huge headroom while staying tight
        # enough that organically-near pairs just under threshold
        # don't all fall into the sequential path
        FENCE_EPS = max(32.0 * dim * 2.0**-24, 1e-6) + 5e-7
        start = 0
        while start < n_in:
            w = hi - lo
            # B ≤ max_reps (intra-chunk new reps never evicted);
            # soft-cap keeps the fence matrix S32 = B×w under ~64 MB
            # B cap 256: the intra-chunk pairwise fence costs n·B·dim
            # flops total, so a lean B keeps it well under the
            # window-fence cost while the S GEMM shape stays efficient
            B = min(
                max_reps,
                n_in - start,
                256,
                max(64, 16_000_000 // max(w, 1)),
            )
            end = start + B
            nb = end - start
            Xc32 = Xn32[start:end]
            if w:
                be32 = (Xc32 @ bufn32[lo:hi].T).max(axis=1)
            else:
                be32 = np.full(nb, -np.inf, dtype=np.float32)
            if nb > 1:
                P32 = Xc32 @ Xc32.T
                bp32 = np.where(
                    _tri_mask(nb), P32, -np.inf
                ).max(axis=1)
                fence = np.maximum(be32, bp32)
            else:
                fence = be32
            cand = fence >= threshold - FENCE_EPS
            if not cand.any():
                # fast path: every row of the chunk is admitted
                buf[hi : hi + nb] = X32[start:end]
                nrm[hi : hi + nb] = Xnrm[start:end]
                ids[hi : hi + nb] = vec_ids[start:end]
                bufn32[hi : hi + nb] = Xc32
                hi += nb
                lo = max(lo, hi - max_reps)
            else:
                # float64 twins of the chunk-start window and the
                # chunk rows, materialized ONCE per candidate chunk
                # (float32→float64 is exact, so the arithmetic below
                # is bit-identical to the old always-float64 ring)
                W64 = buf[lo:hi].astype(np.float64)
                X64c = X32[start:end].astype(np.float64)
                admitted: list[int] = []  # chunk-local, arrival order
                for i in range(nb):
                    if not cand[i]:
                        admitted.append(i)  # fence says non-dup
                        continue
                    ev = max(0, w + len(admitted) - max_reps)
                    xn_i = X64c[i] / Xnrm[start + i]
                    be, bei = -np.inf, -1
                    if w - ev > 0:
                        row = (W64[ev:] @ xn_i) / nrm[lo + ev : hi]
                        r = int(row.argmax())
                        be, bei = float(row[r]), ev + r
                    bn, bni = -np.inf, -1
                    if admitted:
                        idxa = np.asarray(admitted, dtype=np.int64)
                        arr = (X64c[idxa] @ xn_i) / Xnrm[
                            start + idxa
                        ]
                        r = int(arr.argmax())
                        bn, bni = float(arr[r]), admitted[r]
                    if be >= bn:
                        best, rep = be, int(ids[lo + bei]) if bei >= 0 else -1
                    else:
                        best, rep = bn, int(vec_ids[start + bni])
                    if round(best, 6) >= threshold:
                        rows["vec_id"].append(int(vec_ids[start + i]))
                        rows["centroid_id"].append(int(key[0]))
                        rows["rep_id"].append(rep)
                        rows["cosine"].append(round(best, 6))
                    else:
                        admitted.append(i)
                if admitted:
                    idx = np.asarray(admitted, dtype=np.int64)
                    m = len(idx)
                    buf[hi : hi + m] = X32[start:end][idx]
                    nrm[hi : hi + m] = Xnrm[start:end][idx]
                    ids[hi : hi + m] = vec_ids[start:end][idx]
                    bufn32[hi : hi + m] = Xc32[idx]
                    hi += m
                    lo = max(lo, hi - max_reps)
            start = end
        rep_ids = ids[lo:hi].tobytes()
        reps_out = np.ascontiguousarray(buf[lo:hi]).tobytes()
    else:
        rep_ids = np.asarray(rep_ids0, dtype=np.int64).tobytes()
        reps_out = np.ascontiguousarray(reps0, dtype=np.float32).tobytes()
    state.update((rep_ids, reps_out))
    if rows["vec_id"]:
        yield pd.DataFrame(rows)


def stream_semantic_dup_candidates(
    stream_df: DataFrame,
    centroids: list,
    threshold: float = 0.9,
    max_reps: int = 256,
    ttl_minutes: int | None = None,
    intra_cluster_shards: int = 1,
) -> DataFrame:
    """(vec_id, embedding) stream → candidate semantic-dup rows
    (vec_id, centroid_id, rep_id, cosine); see module docstring.

    ``centroids``: list of (centroid_id, vector) built batch-side
    (``kmeans_refine`` output or a fixed sample) — rides in the UDF
    closure like the batch fast-assign path.

    ``intra_cluster_shards`` (R) splits each cluster's representative
    memory into R independent CONTENT-ADDRESSED slices (slice =
    deterministic hash of the quantized embedding bytes): hot
    clusters stop serializing one state group (the skew killer at
    10M events where one cluster held 6% of the stream), state grows
    to R × max_reps per cluster, and exact re-sends are still always
    caught while held (identical bytes route to the same slice).
    Trade-off: NON-exact near-dups are only found within the same
    slice, so near-dup recall scales ~1/R — the LSH-banding trade,
    online.  Requires non-negative centroid ids when R > 1."""
    if not centroids:
        raise ValueError("need at least one centroid")
    if max_reps <= 0:
        raise ValueError("max_reps must be positive")
    R = int(intra_cluster_shards)
    if R <= 0:
        raise ValueError("intra_cluster_shards must be positive")
    if R > 1 and any(c[0] < 0 for c in centroids):
        raise ValueError(
            "intra_cluster_shards > 1 requires non-negative centroid ids"
        )
    cents = sorted(centroids, key=lambda c: c[0])
    ids = np.array([c[0] for c in cents], dtype=np.int64)
    cm = np.round(
        np.array([c[1] for c in cents], dtype=np.float64) * _Q
    )  # quantized centroid matrix, exact integers
    c_sq = (cm * cm).sum(axis=1)
    dim = cm.shape[1]

    # One mapInArrow pass per input partition: quantize embeddings to
    # float32 (the embeddings table's own element type — lossless for
    # real sources; float64 feeds quantize once at ingestion), assign
    # each vector to its nearest centroid with the exact integer
    # quantized-L2 argmin, then PACK all of a centroid's vectors into
    # a single (centroid_id, vec_ids, embs) binary-blob row.  The
    # stateful stage then shuffles and Arrow-feeds thousands of fat
    # rows per micro-batch instead of one row per vector — at 10M
    # events the per-row serializer overhead was the dominant cost.
    # ARROW-NATIVE (r13, the "fuse pack into the source read" lever):
    # the list column's values buffer is reshaped to an (n, dim)
    # matrix in one zero-copy flatten — the prior mapInPandas pass
    # materialized a python object per ROW (np.stack over 10M
    # per-row arrays measured ~18 s of a 99 s run; this pass is one
    # vectorized cast per BATCH).
    import pyarrow as pa

    def pack(batches):
        for batch in batches:
            n = batch.num_rows
            if not n:
                continue
            cols = {name: i for i, name in enumerate(batch.schema.names)}
            vid = (
                batch.column(cols["vec_id"])
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            flat = (
                batch.column(cols["embedding"])
                .flatten()
                .to_numpy(zero_copy_only=False)
            )
            X32 = np.ascontiguousarray(
                flat.reshape(n, dim), dtype=np.float32
            )
            xq = np.round(X32.astype(np.float64) * _Q)
            dists = (
                (xq * xq).sum(axis=1, keepdims=True)
                - 2.0 * (xq @ cm.T)
                + c_sq
            )
            cid = ids[dists.argmin(axis=1)]
            if R > 1:
                # content-addressed slice: a deterministic mix of the
                # quantized (float32) embedding bytes — identical
                # bytes always land in the same slice
                iv = X32.view(np.uint32).astype(np.uint64)
                mix = (
                    iv * (2 * np.arange(iv.shape[1], dtype=np.uint64) + 0x9E3779B1)
                ).sum(axis=1)
                cid = cid * R + (mix % np.uint64(R)).astype(np.int64)
            srt = np.argsort(cid, kind="stable")
            cid_s, vid_s, x_s = cid[srt], vid[srt], X32[srt]
            bounds = np.flatnonzero(
                np.r_[True, cid_s[1:] != cid_s[:-1], True]
            )
            out_cid, out_vids, out_embs = [], [], []
            for a, b in zip(bounds[:-1], bounds[1:]):
                out_cid.append(int(cid_s[a]))
                out_vids.append(vid_s[a:b].tobytes())
                out_embs.append(np.ascontiguousarray(x_s[a:b]).tobytes())
            yield pa.record_batch(
                [
                    pa.array(out_cid, type=pa.int64()),
                    pa.array(out_vids, type=pa.binary()),
                    pa.array(out_embs, type=pa.binary()),
                ],
                names=["centroid_id", "vec_ids", "embs"],
            )

    routed = stream_df.mapInArrow(
        pack, "centroid_id long, vec_ids binary, embs binary"
    )

    def update(key, pdfs, state):
        if ttl_minutes is not None and not state.hasTimedOut:
            state.setTimeoutDuration(ttl_minutes * 60_000)
        out_key = (key[0] // R,) if R > 1 else key
        yield from _update_cluster(
            out_key, pdfs, state, threshold, max_reps, dim
        )

    return routed.groupBy("centroid_id").applyInPandasWithState(
        update,
        outputStructType=_CANDIDATE_SCHEMA,
        stateStructType=_CLUSTER_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=(
            GroupStateTimeout.ProcessingTimeTimeout
            if ttl_minutes is not None
            else GroupStateTimeout.NoTimeout
        ),
    )
