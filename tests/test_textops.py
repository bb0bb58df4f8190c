"""Training-data pipeline operators: dedup family, text analysis, similarity
search, multimodal plumbing — correctness on constructed corpora with known
ground truth."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import Row, functions as F

from sketchlib import multimodal, simsearch, textops

WORDS = np.array([f"w{i}" for i in range(200)])


def _doc(rng, n=60):
    return " ".join(rng.choice(WORDS, n))


@pytest.fixture(scope="module")
def docs(spark):
    """100 base docs + engineered near/exact duplicates."""
    rng = np.random.default_rng(7)
    rows = [Row(doc_id=i, text=_doc(rng)) for i in range(100)]
    base = rows[0].text.split()
    # exact dup of doc 0
    rows.append(Row(doc_id=100, text=rows[0].text))
    # near dup: one word changed
    nd = list(base)
    nd[5] = "CHANGED"
    rows.append(Row(doc_id=101, text=" ".join(nd)))
    # unrelated doc of same length
    rows.append(Row(doc_id=102, text=_doc(rng)))
    df = spark.createDataFrame(rows).cache()
    df.count()
    yield df
    df.unpersist()


def test_exact_dedup_keeps_min_id(docs):
    kept = textops.exact_dedup(docs, "text", "doc_id")
    ids = {r["doc_id"] for r in kept.select("doc_id").collect()}
    assert 0 in ids and 100 not in ids
    assert len(ids) == docs.count() - 1


def test_minhash_finds_engineered_dups(docs):
    pairs = textops.minhash_near_duplicates(
        docs, num_perm=128, bands=32, threshold=0.5
    ).collect()
    found = {(r["a"], r["b"]) for r in pairs}
    assert (0, 100) in found  # exact dup: jaccard est = 1
    assert (0, 101) in found  # near dup (1 word / 60)
    exact = [r for r in pairs if (r["a"], r["b"]) == (0, 100)]
    assert exact[0]["jaccard_est"] == 1.0
    # unrelated docs must not pair at 0.5
    assert (0, 102) not in found


def test_simhash_finds_engineered_dups(docs):
    pairs = textops.simhash_near_duplicates(docs, max_hamming=3).collect()
    found = {(r["a"], r["b"]) for r in pairs}
    assert (0, 100) in found
    hamming0 = [r["hamming"] for r in pairs if (r["a"], r["b"]) == (0, 100)]
    assert hamming0 == [0]


def test_ngram_jaccard_exact_values(spark, docs):
    pairs = spark.createDataFrame([Row(a=0, b=100), Row(a=0, b=102)])
    got = {(r["a"], r["b"]): r["jaccard"] for r in
           textops.ngram_jaccard_pairs(docs, pairs, shingle_n=3).collect()}
    assert got[(0, 100)] == 1.0
    assert got[(0, 102)] < 0.2


def test_ngram_jaccard_short_docs_ansi_safe(spark):
    """Docs shorter than shingle_n must not abort the job under Spark 4's
    default ANSI mode (element_at past the words array used to raise
    INVALID_ARRAY_INDEX_IN_ELEMENT_AT); their single gram is the whole doc."""
    docs = spark.createDataFrame([
        Row(doc_id=0, text="two words"),
        Row(doc_id=1, text="two words"),
        Row(doc_id=2, text="a completely different pair"),
    ])
    pairs = spark.createDataFrame([Row(a=0, b=1), Row(a=0, b=2)])
    got = {(r["a"], r["b"]): r["jaccard"] for r in
           textops.ngram_jaccard_pairs(docs, pairs, shingle_n=3).collect()}
    assert got[(0, 1)] == 1.0
    assert got[(0, 2)] == 0.0


def test_simhash_bucket_cap_on_duplicate_heavy_corpus(spark):
    """A corpus dominated by one identical doc must not go quadratic on its
    band buckets: with max_bucket tiny, the thinned buckets still yield
    duplicate pairs among the survivors and never error."""
    rows = [Row(doc_id=i, text="the same boilerplate page body repeated")
            for i in range(300)]
    rows.append(Row(doc_id=300, text="one genuinely different document here"))
    df = spark.createDataFrame(rows)
    pairs = textops.simhash_near_duplicates(df, max_bucket=20).collect()
    assert pairs, "thinned buckets must still emit duplicate pairs"
    assert all(r["hamming"] == 0 for r in pairs if r["b"] != 300)
    ids = {r["a"] for r in pairs} | {r["b"] for r in pairs}
    assert 300 not in ids


def test_langid_marker_sentences(spark):
    df = spark.createDataFrame([
        Row(doc_id=1, text="the cat and the dog of a house in the garden is big"),
        Row(doc_id=2, text="der hund und die katze ist nicht das problem"),
        Row(doc_id=3, text="le chat et la maison est grande les des"),
        Row(doc_id=4, text="el perro la casa es una los las cosa"),
        Row(doc_id=5, text="zzz qqq xxx"),
    ])
    got = {r["doc_id"]: r["lang_pred"] for r in textops.langid_heuristic(df).collect()}
    assert got == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}


def test_quality_and_token_counts(spark):
    df = spark.createDataFrame([
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today, yes."),
        Row(doc_id=2, text="x"),
    ])
    q = {r["doc_id"]: r for r in textops.quality_features(df).collect()}
    assert q[1]["n_words"] == 11
    assert q[2]["quality_score"] == 0.0  # too short
    assert 0 < q[1]["stop_ratio"] < 0.5
    t = {r["doc_id"]: r for r in textops.token_counts(df).collect()}
    assert t[1]["n_tokens_ws"] == 11
    assert t[1]["n_tokens_bpe_ish"] >= 11  # punctuation split adds tokens


def test_fingerprints_distinct_and_deterministic(docs):
    fp1 = {r["doc_id"]: r["fingerprint"] for r in textops.doc_fingerprints(docs).collect()}
    fp2 = {r["doc_id"]: r["fingerprint"] for r in textops.doc_fingerprints(docs).collect()}
    assert fp1 == fp2
    assert fp1[0] == fp1[100]  # identical text -> identical fingerprint
    assert fp1[0] != fp1[101]


def test_lsh_bucket_cap_without_window_sort(spark):
    """Degenerate buckets (all-identical corpus) must be capped WITHOUT a
    Window over the full banded table: the plan may not contain a Window
    node, and the pair count must stay far below the uncapped quadratic."""
    rows = [Row(doc_id=i, text="identical text repeated for the bucket cap test case")
            for i in range(300)]
    rows += [Row(doc_id=1000 + i,
                 text=f"unique document number {i} alpha beta gamma {i * 7} delta")
             for i in range(20)]
    df = spark.createDataFrame(rows).repartition(4)
    sigs = textops.minhash_signatures(df, num_perm=64)
    cands = textops.lsh_candidate_pairs(sigs, bands=16, rows_per_band=4, max_bucket=20)

    jvm = spark._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    plan = cands._jdf.queryExecution().explainString(mode)
    assert "Window" not in plan, "bucket cap reintroduced a window sort"

    n = cands.count()
    # uncapped: C(300,2) = 44_850 pairs from the identical bucket alone;
    # capped: ~C(20,2) per band, partially overlapping across 16 bands
    assert 0 < n < 10_000, n


def _near_dups_of_rows(spark, kind, ids):
    """Near-dup pairs of one row of content under each id of ``ids``."""
    if kind == "embedding":
        vec = [float(j % 5) + 1.0 for j in range(8)]
        df = spark.createDataFrame([(i, vec) for i in ids], "vec_id string, embedding array<double>")
        return simsearch.embedding_near_duplicates(df, dim=8)
    if kind == "token":
        df = spark.createDataFrame([(i, list(range(40))) for i in ids],
                                   "doc_id string, tokens array<int>")
        return textops.token_near_duplicates(df)
    text = " ".join(f"w{j}" for j in range(40))
    df = spark.createDataFrame([(i, text) for i in ids], "doc_id string, text string")
    if kind == "minhash":
        return textops.minhash_near_duplicates(df)
    return textops.simhash_near_duplicates(df)


@pytest.mark.parametrize("kind", ["minhash", "token", "simhash", "embedding"])
def test_near_dups_never_pair_an_id_with_itself(spark, kind):
    """An id that appears twice in a bucket must not yield an (x, x) pair:
    every pipeline emits only a < b."""
    assert _near_dups_of_rows(spark, kind, ["a", "a"]).collect() == []


@pytest.mark.parametrize("kind", ["minhash", "token", "simhash", "embedding"])
def test_near_dups_emit_a_repeated_ids_pair_once(spark, kind):
    """Rows a, a, b of identical content are one pair (a, b), not one per
    copy of a: the verify join meets both rows of id a."""
    got = [(r["a"], r["b"]) for r in _near_dups_of_rows(spark, kind, ["a", "a", "b"]).collect()]
    assert got == [("a", "b")]


def test_band_pairs_drop_null_buckets(spark):
    """Rows whose bucket hash is NULL (invalid embeddings) never pair, even
    when there are more of them than ``max_bucket``: grouped together they
    would be one uncapped bucket of all-pairs."""
    rows = [(i, 0, None) for i in range(300)]
    rows += [(1000 + i, b, 7) for i in range(4) for b in (0, 1)]
    stacked = spark.createDataFrame(rows, "id long, band int, h long")
    got = sorted(tuple(r) for r in textops._band_pairs(stacked, "id", 200).collect())
    assert got == [(1000 + i, 1000 + j) for i in range(4) for j in range(i + 1, 4)]


def _horner_reference(text: str) -> int:
    """Trivially-correct byte-wise Horner — the kernel's contract."""
    h = 0
    for b in text.encode("utf-8"):
        h = (h * 1099511628211 + b) & 0xFFFFFFFFFFFFFFFF
    return h


def test_fingerprint_kernel_matches_horner_and_handles_megabyte_doc():
    """The vectorized kernel must equal byte-wise Horner exactly, and one
    1 MB doc in a 10k-doc batch must not blow up memory/time (the old dense
    (n_docs x maxlen) formulation allocated n_docs*maxlen uint64 = 80 GB on
    this shape)."""
    import time

    rng = np.random.default_rng(3)
    texts = ["".join(chr(97 + c) for c in rng.integers(0, 26, int(l)))
             for l in rng.integers(0, 200, 9_999)]
    big = "".join(chr(97 + c) for c in rng.integers(0, 26, 1_000_000))
    texts.append(big)

    enc = [t.encode("utf-8") for t in texts]
    lens = np.array([len(e) for e in enc], dtype=np.int64)
    starts = np.r_[0, np.cumsum(lens)[:-1]]
    data = np.frombuffer(b"".join(enc), dtype=np.uint8)

    t0 = time.perf_counter()
    got = textops.fingerprint_bytes_segmented(data, starts, lens)
    dt = time.perf_counter() - t0
    # spot-check against the scalar contract: first/last/empty/megabyte docs
    for i in [0, 1, 2, 5_000, 9_998, 9_999]:
        assert int(got[i]) == _horner_reference(texts[i]), f"doc {i}"
    empty_idx = int(np.flatnonzero(lens == 0)[0]) if (lens == 0).any() else None
    if empty_idx is not None:
        assert int(got[empty_idx]) == 0
    # O(total_bytes) kernel: ~3 MB of work must be far under a second even on
    # a noisy host (the dense-matrix version could not even allocate)
    assert dt < 5.0, f"kernel took {dt:.2f}s on 10k docs + 1MB doc"


def test_fingerprint_kernel_empty_tail_and_interior_segments():
    """Regression (round-3 ADVICE): a clamped-start reduceat stole the last
    byte of the doc preceding a trailing empty segment, making fingerprints
    batch-layout-dependent. Each doc's fingerprint must equal its
    processed-alone value regardless of where empty docs sit in the batch."""
    def seg(texts):
        enc = [t.encode("utf-8") for t in texts]
        lens = np.array([len(e) for e in enc], dtype=np.int64)
        starts = np.r_[0, np.cumsum(lens)[:-1]].astype(np.int64)
        data = np.frombuffer(b"".join(enc), dtype=np.uint8)
        return textops.fingerprint_bytes_segmented(data, starts, lens)

    layouts = [
        ["hello", ""],                      # the exact verified-broken case
        ["hello", "", ""],                  # run of trailing empties
        ["", "hello"],                      # leading empty
        ["a", "", "bc", "", "", "def", ""],  # interior + tail empties
        ["", "", ""],                       # all empty
        [" ", "hello", "  "],               # whitespace-only docs
    ]
    for texts in layouts:
        got = seg(texts)
        for i, t in enumerate(texts):
            alone = seg([t])[0]
            assert int(got[i]) == int(alone) == _horner_reference(t), (texts, i)
            if t == "":
                assert int(got[i]) == 0


def test_simhash_empty_tail_doc_batch_independent(spark):
    """Regression (round-3 ADVICE): an empty doc at the batch tail shifted
    the previous doc's segment boundary, dropping its last word's bits from
    the simhash vote. Signatures must match the processed-alone values."""
    texts = ["the quick brown fox", "", "lorem ipsum dolor", "   ", "tail words here", ""]
    rows = [Row(doc_id=i, text=t) for i, t in enumerate(texts)]
    batched = spark.createDataFrame(rows).coalesce(1)  # one Arrow batch
    got = {r["doc_id"]: r["simhash"] for r in textops.simhash(batched).collect()}
    for i, t in enumerate(texts):
        alone_df = spark.createDataFrame([Row(doc_id=i, text=t)]).coalesce(1)
        alone = textops.simhash(alone_df).collect()[0]["simhash"]
        assert got[i] == alone, (i, t, got[i], alone)
    # docs with no words hash to 0 (all votes non-positive)
    assert got[1] == 0 and got[5] == 0


def test_langid_trigram_real_sentences(spark):
    """The trigram scorer must classify real sentences in all four profiled
    languages — the capability the marker heuristic cannot deliver on text
    that avoids the exact marker words."""
    samples = [
        (0, "The committee was established to review the proposal and the findings", "en"),
        (1, "She walked through the garden thinking about everything that happened", "en"),
        (2, "Die Entscheidung wurde nach einer langen Sitzung der Kommission getroffen", "de"),
        (3, "Ich habe das Buch gestern in der Bibliothek gelesen und verstanden", "de"),
        (4, "Le gouvernement a annonce que les mesures seraient appliquees rapidement", "fr"),
        (5, "Les enfants jouaient dans le parc pendant que leurs parents discutaient", "fr"),
        (6, "El presidente declaro que la situacion economica estaba mejorando lentamente", "es"),
        (7, "Los estudiantes presentaron sus proyectos durante la conferencia anual", "es"),
    ]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t, _ in samples]).coalesce(1)
    got = {r["doc_id"]: r["lang_trigram"] for r in textops.langid_trigram(df).collect()}
    for i, _t, want in samples:
        assert got[i] == want, (i, got[i], want)


def test_langid_trigram_empty_and_batch_independent(spark):
    """Empty/unmatchable docs -> 'und'; per-doc scores must not depend on
    batch composition (boundary trigrams are masked, empty tails safe)."""
    texts = ["the committee and the board", "", "zzz qqq xxx", "   "]
    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(texts)]).coalesce(1)
    got = {r["doc_id"]: (r["lang_trigram"], r["tscore_en"])
           for r in textops.langid_trigram(df).collect()}
    assert got[0][0] == "en"
    assert got[1][0] == "und" and got[2][0] == "und" and got[3][0] == "und"
    for i, t in enumerate(texts):
        alone_df = spark.createDataFrame([Row(doc_id=i, text=t)]).coalesce(1)
        alone = alone_df.transform(textops.langid_trigram).collect()[0]
        assert (alone["lang_trigram"], alone["tscore_en"]) == got[i], (i, t)


# ---------- similarity search ---------------------------------------------------

@pytest.fixture(scope="module")
def vectors(spark):
    rng = np.random.default_rng(11)
    mat = rng.standard_normal((400, 32)).astype(np.float32)
    mat[7] = mat[0] * 0.9 + rng.standard_normal(32).astype(np.float32) * 0.01  # near-dup of 0
    rows = [Row(vec_id=i, embedding=[float(x) for x in mat[i]]) for i in range(400)]
    df = spark.createDataFrame(rows).repartition(4).cache()
    df.count()
    yield df, mat
    df.unpersist()


def test_cosine_topk_sql_vs_arrow_vs_numpy(vectors):
    df, mat = vectors
    q = [float(x) for x in mat[0]]
    sql_rows = simsearch.cosine_topk_sql(df, q, k=5).collect()
    arrow_rows = simsearch.cosine_topk_arrow(df, q, k=5).collect()
    assert [r["vec_id"] for r in sql_rows] == [r["vec_id"] for r in arrow_rows]
    # numpy ground truth
    qv = np.asarray(q)
    scores = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
    want = np.argsort(-scores, kind="stable")[:5].tolist()
    assert [r["vec_id"] for r in sql_rows] == want
    assert want[0] == 0 and want[1] == 7  # engineered near-dup ranks second
    for r_sql, r_arr in zip(sql_rows, arrow_rows):
        assert abs(r_sql["cosine"] - r_arr["cosine"]) < 1e-9


def test_null_embeddings_never_misalign_rows(spark):
    """ListArray.flatten() drops null rows — every vector kernel used to pair
    rows after a null with the NEXT row's vector (confirmed live: id 3
    inherited id 4's score). Null/malformed vectors must be skipped (top-k)
    or get null bucket/cluster/signature — and all other rows keep THEIR OWN
    vector."""
    rows = [
        Row(vec_id=1, embedding=[1.0, 0.0]),
        Row(vec_id=2, embedding=None),
        Row(vec_id=3, embedding=[0.0, 1.0]),
        Row(vec_id=4, embedding=[1.0, 1.0]),
        Row(vec_id=5, embedding=[1.0, 0.0, 0.0]),  # wrong dim: also invalid
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    got = simsearch.cosine_topk_arrow(df, [1.0, 0.0], k=2).collect()
    assert [(r["vec_id"], round(r["cosine"], 4)) for r in got] == [
        (1, 1.0), (4, round(1 / np.sqrt(2), 4))]
    # orthogonal id 3 must keep ITS vector: cosine 0, not id 4's 0.707
    all3 = {r["vec_id"]: r["cosine"] for r in
            simsearch.cosine_topk_arrow(df, [1.0, 0.0], k=10).collect()}
    assert set(all3) == {1, 3, 4}
    assert abs(all3[3]) < 1e-12
    # bucket/cluster columns: null for invalid rows, aligned for the rest
    b = {r["vec_id"]: r["bucket"] for r in
         simsearch.with_lsh_bucket(df, dim=2, n_bits=8).collect()}
    assert b[2] is None and b[5] is None
    same = {r["vec_id"]: r["bucket"] for r in simsearch.with_lsh_bucket(
        df.filter(F.col("vec_id").isin(1, 3, 4)), dim=2, n_bits=8).collect()}
    assert {k: b[k] for k in (1, 3, 4)} == same
    cent = np.asarray([[1.0, 0.0], [0.0, 1.0]])
    c = {r["vec_id"]: r["cluster"] for r in
         simsearch.with_ivf_cluster(df, cent).collect()}
    assert c == {1: 0, 2: None, 3: 1, 4: 0, 5: None}
    # near-dup pairs: nulls can't pair; 1-4 genuinely similar pair survives
    dups = simsearch.embedding_near_duplicates(
        df, dim=2, threshold=0.7, n_tables=8, bits_per_table=4).collect()
    ids = {i for r in dups for i in (r["a"], r["b"])}
    assert 2 not in ids and 5 not in ids


def test_lsh_ann_finds_self_and_neardup(vectors):
    df, mat = vectors
    q = [float(x) for x in mat[0]]
    got = simsearch.ann_topk_lsh(df, q, dim=32, k=5, n_bits=12, hamming=2).collect()
    ids = [r["vec_id"] for r in got]
    assert ids[0] == 0
    assert 7 in ids  # near-identical vector shares the bucket neighborhood


def test_ivf_ann_recall(vectors):
    df, mat = vectors
    q = [float(x) for x in mat[0]]
    got = simsearch.ann_topk_ivf(df, q, dim=32, k=5, n_clusters=8, nprobe=3).collect()
    ids = [r["vec_id"] for r in got]
    assert ids[0] == 0 and 7 in ids
    # brute-force ground truth overlap (recall@5 >= 3/5 with nprobe=3/8)
    qv = np.asarray(q)
    scores = mat @ qv / (np.linalg.norm(mat, axis=1) * np.linalg.norm(qv))
    want = set(np.argsort(-scores, kind="stable")[:5].tolist())
    assert len(want & set(ids)) >= 3
    # determinism: same seed -> same result
    again = [r["vec_id"] for r in
             simsearch.ann_topk_ivf(df, q, dim=32, k=5, n_clusters=8, nprobe=3).collect()]
    assert again == ids


def test_fit_ivf_centroids_ignores_nonfinite_vectors(spark):
    """A sampled vector with a NaN/Inf element passes the isNotNull + size
    filters but would poison a centroid mean (and argmax's NaN-stickiness
    then funnels rows into the poisoned cluster) — it must be dropped, the
    same validity rule _valid_matrix applies on the assignment side."""
    rows = [(i, [float(i % 3) + 1.0, 1.0]) for i in range(30)]
    rows += [(30, [float("nan"), 1.0]), (31, [float("inf"), 2.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cent = simsearch.fit_ivf_centroids(df, dim=2, n_clusters=3, sample=40, iters=4)
    assert np.isfinite(cent).all()


# ---------- multimodal plumbing ---------------------------------------------------

def test_multimodal_metadata_and_features(spark):
    media = multimodal.synth_media_df(spark, 50, partitions=3)
    meta = {r["media_id"]: r for r in multimodal.extract_metadata(media).collect()}
    assert len(meta) == 50
    assert meta[0]["kind"] == multimodal.KIND_IMAGE
    assert meta[3]["height"] == 16 + 3 % 16 and meta[3]["channels"] == 3
    feats = {r["media_id"]: r for r in multimodal.image_features(media).collect()}
    assert len(feats) == 50
    f = feats[5]
    assert 100 < f["mean_px"] < 160 and len(f["thumb"]) == 16
    # deterministic across runs
    feats2 = {r["media_id"]: r for r in multimodal.image_features(media).collect()}
    assert feats == feats2


def test_multimodal_metadata_null_blobs(spark):
    """NULL media rows must come back as null metadata rows, not abort the
    whole Arrow batch with a short-blob error (ADVICE r4); genuinely short
    non-null blobs must still raise."""
    from pyspark.sql import functions as F

    media = multimodal.synth_media_df(spark, 20, partitions=2)
    with_nulls = media.withColumn(
        "blob", F.when(F.col("media_id") % 5 == 0, F.lit(None)).otherwise(F.col("blob"))
    )
    meta = {r["media_id"]: r for r in multimodal.extract_metadata(with_nulls).collect()}
    assert len(meta) == 20
    for mid, r in meta.items():
        if mid % 5 == 0:
            assert r["kind"] is None and r["n_bytes"] is None
        else:
            assert r["kind"] == multimodal.KIND_IMAGE and r["n_bytes"] >= 10
    # a genuinely short non-null blob still raises for its batch
    bad = spark.createDataFrame([(999, bytearray(b"tiny"))], "media_id long, blob binary")
    with pytest.raises(Exception, match="shorter than"):
        multimodal.extract_metadata(bad).collect()


def test_image_features_null_blobs(spark):
    """NULL blobs must produce null feature rows, not bytes(None) TypeError."""
    media = multimodal.synth_media_df(spark, 10, partitions=2)
    with_nulls = media.withColumn(
        "blob", F.when(F.col("media_id") % 3 == 0, F.lit(None)).otherwise(F.col("blob"))
    )
    feats = {r["media_id"]: r for r in multimodal.image_features(with_nulls).collect()}
    assert len(feats) == 10
    for mid, r in feats.items():
        if mid % 3 == 0:
            assert r["thumb"] is None
            assert r["mean_px"] is None or r["mean_px"] != r["mean_px"]  # null or NaN
        else:
            assert r["thumb"] is not None and len(r["thumb"]) == 16


def test_real_codec_absent_raises(spark):
    with pytest.raises(NotImplementedError):
        multimodal.CODEC.decode_image(b"\x89PNG\r\n\x1a\n garbage")


def test_embedding_near_duplicates(vectors):
    """Multi-table hyperplane LSH + exact verify must recover the planted
    near-dup pair (0, 7) with perfect precision (every output pair is
    exactly verified >= threshold)."""
    df, _mat = vectors
    pairs = simsearch.embedding_near_duplicates(
        df, dim=32, threshold=0.95, n_tables=8, bits_per_table=8
    ).collect()
    got = {(r["a"], r["b"]) for r in pairs}
    assert (0, 7) in got, got
    for r in pairs:
        assert r["cosine"] >= 0.95


def test_embedding_near_dup_distinct_carries_ids_only(vectors):
    """The candidate-dedup exchange must shuffle (a, b) ids only — a pair
    found in several LSH tables must not drag two full vectors through the
    distinct (round-2 VERDICT perf nit)."""
    df, _mat = vectors
    out = simsearch.embedding_near_duplicates(
        df, dim=32, threshold=0.95, n_tables=8, bits_per_table=8
    )
    plan = out._jdf.queryExecution().executedPlan().toString()
    # the aggregate implementing .distinct() must key on a/b and not carry
    # the vector payload columns
    agg_lines = [ln for ln in plan.splitlines()
                 if "HashAggregate" in ln and "keys=[a#" in ln.replace(" ", "")]
    assert agg_lines, plan
    for ln in agg_lines:
        assert "embedding" not in ln, ln


def test_textops_importable_without_pandas():
    """The signature/langid/fingerprint kernels run in cold python workers;
    a module-level pandas import would charge every worker ~0.22 s of
    startup. Pin that importing textops does not pull pandas."""
    import subprocess
    import sys

    code = (
        "import sys; import sketchlib.textops; "
        "sys.exit(1 if 'pandas' in sys.modules else 0)"
    )
    proc = subprocess.run([sys.executable, "-c", code], cwd="/root/repo")
    assert proc.returncode == 0
