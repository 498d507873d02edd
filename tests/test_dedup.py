"""Dedup operators (ext/dedup.py): winnowing fingerprints, CDC chunks and
continuation pairs."""

import pandas as pd

SF = "/root/testdata/sf0.001"


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
