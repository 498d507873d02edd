"""Round-13 operators: incremental IVF-PQ index maintenance
(VERDICT r12 #7) and the tokenizer-eval row's guards.

Strategy: the delta-append path must be BIT-IDENTICAL to a full
rebuild whenever the codebook-training vectors live in the base —
pinned here for both the gate-row composition (emb_ivfpq_delta_topk) and
the persisted index (build → append_ivfpq_delta → search); the
driver's DuckDB oracle certifies the same equivalence independently
(the delta row's oracle IS the full-rebuild SQL)."""

from pyspark.sql import functions as F

SF = "/root/testdata/sf0.001"


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


def test_tokenizer_compare_consistent_with_component_rows(spark):
    """doc_tokenizer_compare == exact floor-div recombination of the
    two encode gate rows (same memoized cores, one lang join)."""
    from meteaudata_spark.ext.textstats import (
        doc_bpe_encode,
        doc_tokenizer_compare,
        doc_unigram_lm_encode,
    )

    got = doc_tokenizer_compare(spark, SF).toPandas().set_index("lang")
    bpe = doc_bpe_encode(spark, SF).toPandas().set_index("lang")
    ulm = doc_unigram_lm_encode(spark, SF).toPandas().set_index("lang")
    # row SET compare (no presentation sort on the gate rows)
    assert sorted(got.index) == sorted(set(bpe.index) & set(ulm.index))
    for lang in got.index:
        b, u, g = bpe.loc[lang], ulm.loc[lang], got.loc[lang]
        bf = b["n_bpe_tokens"] * 1000000 // b["n_words"]
        uf = u["n_unigram_tokens"] * 1000000 // u["n_words"]
        bc = b["n_char_tokens"] * 1000000 // b["n_bpe_tokens"]
        uc = u["n_char_tokens"] * 1000000 // u["n_unigram_tokens"]
        assert g["bpe_fertility_micros"] == bf, lang
        assert g["ulm_fertility_micros"] == uf, lang
        assert g["bpe_compression_micros"] == bc, lang
        assert g["ulm_compression_micros"] == uc, lang
        want = "unigram" if uc > bc else ("bpe" if bc > uc else "tie")
        assert g["compression_winner"] == want, lang


def test_winnow_guarantee_shared_run_yields_shared_fingerprint(spark, tmp_path):
    """The winnowing theorem (k=4, w=4): any shared run of >= w+k-1 =
    7 words yields at least one SHARED fingerprint; disjoint texts
    share none; density ~ 2/(w+1)."""
    import pandas as pd

    from meteaudata_spark.ext.dedup import doc_winnow_fingerprints

    shared_run = "alpha beta gamma delta epsilon zeta eta"  # 7 words
    uniq = lambda p, n: " ".join(f"{p}{i}" for i in range(n))
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [
                uniq("a", 20) + " " + shared_run + " " + uniq("b", 20),
                uniq("c", 20) + " " + shared_run + " " + uniq("d", 20),
                uniq("e", 50),
            ],
            "lang": ["en"] * 3,
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf}/documents.parquet")
    out = {
        r["doc_id"]: r
        for r in doc_winnow_fingerprints(spark, sf).collect()
    }
    assert out[1]["n_shared_fp"] >= 1 and out[2]["n_shared_fp"] >= 1
    assert out[3]["n_shared_fp"] == 0
    # density: expected 2/(w+1) = 4000 bp; winnowing guarantees
    # density <= 1 and >= 1/w
    for i in (1, 2, 3):
        assert 2500 <= out[i]["density_bp"] <= 10000, out[i]
    # short doc: fewer than k+w-1 words -> zero windows, zero rows
    pdf2 = pd.DataFrame(
        {"doc_id": [9], "text": ["one two three"], "lang": ["en"]}
    )
    sf2 = str(tmp_path / "short")
    spark.createDataFrame(pdf2).write.parquet(f"{sf2}/documents.parquet")
    r = doc_winnow_fingerprints(spark, sf2).collect()[0]
    assert r["n_windows"] == 0 and r["n_fingerprints"] == 0
    assert r["density_bp"] is None


def test_cdc_chunks_insertion_robust(spark, tmp_path):
    """The CDC property fixed-width segmentation lacks: inserting one
    word near the head re-frames only the chunk it lands in — chunks
    after the next content-defined boundary stay identical, so the
    two versions still share most of their chunk mass."""
    import pandas as pd

    from meteaudata_spark.ext.dedup import doc_cdc_chunks

    base = " ".join(f"w{i}" for i in range(200))
    edited = "INSERTED " + base  # one-word insertion at the head
    pdf = pd.DataFrame(
        {
            "doc_id": [1, 2, 3],
            "text": [base, edited, " ".join(f"z{i}" for i in range(200))],
            "lang": ["en"] * 3,
        }
    )
    sf = str(tmp_path)
    spark.createDataFrame(pdf).write.parquet(f"{sf}/documents.parquet")
    out = {r["doc_id"]: r for r in doc_cdc_chunks(spark, sf).collect()}
    # both versions share the chunks after the first boundary: the
    # overwhelming majority of their word mass
    assert out[1]["shared_bp"] >= 9000, out[1]
    assert out[2]["shared_bp"] >= 9000, out[2]
    # the unrelated doc shares nothing
    assert out[3]["n_shared_chunks"] == 0 and out[3]["shared_bp"] == 0
    # chunk accounting is exact: chunk words sum to doc words
    assert out[1]["n_words"] == 200 and out[2]["n_words"] == 201
    # empty doc reports zeros with NULL share
    pdf2 = pd.DataFrame({"doc_id": [9], "text": [""], "lang": ["en"]})
    sf2 = str(tmp_path / "empty")
    spark.createDataFrame(pdf2).write.parquet(f"{sf2}/documents.parquet")
    r = doc_cdc_chunks(spark, sf2).collect()[0]
    assert r["n_words"] == 0 and r["n_chunks"] == 0 and r["shared_bp"] is None


def test_gopher_ablation_consistent_with_flag_table(spark):
    """Ablation row == exact recombination of the per-doc flag table:
    per rule, failed/exclusive doc and word counts."""
    from meteaudata_spark.ext.textstats import (
        _GOPHER_RULE_NAMES,
        doc_gopher_ablation,
        doc_gopher_rules,
    )

    flags = doc_gopher_rules(spark, SF).toPandas()
    got = doc_gopher_ablation(spark, SF).toPandas().set_index("rule")
    # row SET compare (no presentation sort on the gate row)
    assert sorted(got.index) == sorted(_GOPHER_RULE_NAMES)
    n_docs = len(flags)
    for r in _GOPHER_RULE_NAMES:
        fail = ~flags[r]
        others = flags[[o for o in _GOPHER_RULE_NAMES if o != r]].all(axis=1)
        excl = fail & others
        g = got.loc[r]
        assert g["n_failed"] == int(fail.sum()), r
        assert g["n_exclusive"] == int(excl.sum()), r
        assert g["failed_words"] == int(flags.loc[fail, "n_words"].sum()), r
        assert g["exclusive_words"] == int(flags.loc[excl, "n_words"].sum()), r
        assert g["failed_bp"] == int(fail.sum()) * 10000 // n_docs, r
        assert g["n_exclusive"] <= g["n_failed"]


def test_continuation_pairs_recover_planted_links(spark):
    """Every planted (doc_id % 97 == 0) -> successor link is
    recovered, and each recovered pair's boundary phrases really
    match (first/last k words equality re-checked in pandas)."""
    from meteaudata_spark.ext.dedup import doc_continuation_pairs
    from meteaudata_spark.sources.tables import _docs

    pairs = doc_continuation_pairs(spark, SF).toPandas()
    docs = {
        r["doc_id"]: r["text"].split(" ")
        for r in _docs(spark, SF).collect()
    }
    k = 8
    planted = {
        (i, i + 1)
        for i in docs
        if i % 97 == 0 and (i + 1) in docs and len(docs[i + 1]) >= k
        and len(docs[i]) >= k
    }
    got = set(zip(pairs["prev_doc"], pairs["next_doc"]))
    assert planted <= got, planted - got
    # every emitted pair's boundary really matches (planted tail =
    # original tail + successor head)
    for p, n in got:
        tail = docs[p] + (docs[n][:k] if p % 97 == 0 else [])
        assert tail[-k:] == docs[n][:k], (p, n)


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
