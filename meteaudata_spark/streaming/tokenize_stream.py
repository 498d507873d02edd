"""Streaming tokenizer encode: per-micro-batch token counting with a
FROZEN trained unigram-LM vocabulary — the online twin of
``textstats.doc_unigram_lm_encode`` (the step a streaming ingestion
pipeline runs to meter token budgets as documents arrive).

Design: the vocabulary (piece → integer-quantized logp, the
``unigram_lm_train`` output) rides in the UDF closure; a word's
segmentation is a pure function of the word, so each Arrow batch
Viterbi-decodes only its NEW distinct words and a worker-local
size-capped LRU memo (keyed by distinct word; bounded by
``_MEMO_CAP``, NOT by the vocabulary — a long-running stream over
high-cardinality words must not grow it without limit) makes repeat
words free.  The stage is STATELESS (`mapInArrow`): it emits
per-(batch, group) partial count rows; the consumer aggregates
downstream (or sums in its sink), so any output mode works and no
state store is touched.

Exactness: the Viterbi DP and argmax-first tie semantics are
bit-identical to the batch expression fold (same integer logp, same
left-to-right backtrack) — the differential test streams the corpus
and matches ``doc_unigram_lm_encode``'s totals exactly.

OOV semantics (the online case the batch twin never sees): a word
containing a character absent from the frozen vocabulary has NO
feasible segmentation.  The batch encoder drops such words by
join-miss against the trained word relation; the stream mirrors that
— the word is excluded from n_words/n_chars/n_tokens — but meters it
in the ``n_oov_words`` column so an ingestion pipeline can alert on
vocabulary drift instead of silently under-counting.
"""

from __future__ import annotations

from collections import OrderedDict

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame

# Worker-local Viterbi memo bound: distinct words cached per executor
# python worker.  262144 entries of (word -> int) is a few tens of MB
# worst-case; beyond it the least-recently-used words re-decode.
_MEMO_CAP = 1 << 18


def _viterbi_len(w: str, lp: dict, max_len: int) -> int:
    """Token count of ``w`` under the pruned vocabulary — the same DP
    and tie semantics as the batch expression fold (best over piece
    lengths, backtrack prefers the LONGEST piece achieving best).
    Returns -1 when ``w`` has no feasible segmentation (a character
    outside the vocabulary): unreachable prefixes stay ``None`` and
    are skipped, never added to (the ADVICE r13 TypeError)."""
    n = len(w)
    best: list = [0] + [None] * n
    for i in range(1, n + 1):
        b = None
        for ln in range(1, min(max_len, i) + 1):
            prev = best[i - ln]
            if prev is None:
                continue
            s = lp.get(w[i - ln : i])
            if s is not None:
                v = prev + s
                if b is None or v > b:
                    b = v
        best[i] = b
    if best[n] is None:
        return -1
    pos, cnt = n, 0
    while pos > 0:
        chosen = 0
        for ln in range(min(max_len, pos), 0, -1):
            prev = best[pos - ln]
            if prev is None:
                continue
            s = lp.get(w[pos - ln : pos])
            if s is not None and prev + s == best[pos]:
                chosen = ln
                break
        if chosen == 0:  # unreachable when best[n] is not None
            return -1
        cnt += 1
        pos -= chosen
    return cnt


def stream_token_counts(
    stream_df: DataFrame,
    vocab: list,
    group_col: str = "lang",
    text_col: str = "text",
    max_word_len: int = 32,
) -> DataFrame:
    """(group, text) stream → per-(micro-batch partition, group)
    partial rows (group, n_words, n_chars, n_tokens, n_oov_words); sum
    per group downstream for the ``doc_unigram_lm_encode`` totals.

    ``vocab``: list of (piece, logp_micros) from the trained
    ``unigram_lm_train`` table (the piece lengths bound the DP).
    Words longer than ``max_word_len`` are excluded from all counts on
    both engines (the trainer's fence).  Words with NO feasible
    segmentation (an out-of-vocabulary character) are excluded from
    n_words/n_chars/n_tokens — the batch encoder's join-miss
    semantics — and counted in ``n_oov_words`` instead."""
    if not vocab:
        raise ValueError("need a trained vocabulary")
    lp = {str(p): int(s) for p, s in vocab}
    max_len = max(len(p) for p in lp)
    memo: OrderedDict = OrderedDict()

    def encode(batches):
        for batch in batches:
            if not batch.num_rows:
                continue
            cols = {n: i for i, n in enumerate(batch.schema.names)}
            groups = batch.column(cols[group_col]).to_pylist()
            texts = batch.column(cols[text_col]).to_pylist()
            agg: dict = {}
            for g, t in zip(groups, texts):
                if t is None:
                    continue
                a = agg.setdefault(g, [0, 0, 0, 0])
                for w in t.split(" "):
                    if not w or len(w) > max_word_len:
                        continue
                    hit = memo.get(w)
                    if hit is None:
                        hit = _viterbi_len(w, lp, max_len)
                        memo[w] = hit
                        if len(memo) > _MEMO_CAP:
                            memo.popitem(last=False)
                    else:
                        memo.move_to_end(w)
                    if hit < 0:
                        a[3] += 1
                        continue
                    a[0] += 1
                    a[1] += len(w)
                    a[2] += hit
            if not agg:
                continue
            ks = sorted(agg)
            yield pa.record_batch(
                [pa.array(ks, type=pa.string())]
                + [
                    pa.array(
                        np.array([agg[k][j] for k in ks], dtype=np.int64)
                    )
                    for j in range(4)
                ],
                names=[
                    group_col,
                    "n_words",
                    "n_chars",
                    "n_tokens",
                    "n_oov_words",
                ],
            )

    return stream_df.mapInArrow(
        encode,
        f"{group_col} string, n_words long, n_chars long,"
        " n_tokens long, n_oov_words long",
    )
