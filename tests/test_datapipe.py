"""Unit tests for the training-data pipeline operators: text stats, dedup
family, similarity search, multimodal plumbing."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators import dedup, multimodal, similarity, textstats


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),   # near-dup of 0
        (2, "completely different content about spark plans"),
        (3, "the quick brown fox jumps over the lazy dog"),   # exact dup of 0
        (4, "tiny"),                                           # < 3 tokens
        (5, "der hund ist nicht mit der katze"),
        (6, "le chat est avec le chien et la souris"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_shingles_short_doc(docs):
    out = docs.select("doc_id", textstats.word_shingles(F.col("text")).alias("sh"))
    got = {r["doc_id"]: r["sh"] for r in out.collect()}
    assert got[4] == []
    assert "the quick brown" in got[0]


def test_token_stats(docs):
    out = {r["doc_id"]: r for r in textstats.token_stats(docs).collect()}
    assert out[0]["n_ws_tokens"] == 9
    assert out[4]["n_ws_tokens"] == 1
    assert out[0]["n_bpe_tokens"] == 9  # pure letters, one per word
    assert abs(out[4]["avg_token_len"] - 4.0) < 1e-9


def test_quality_bounds(docs):
    for r in textstats.quality_score(docs).collect():
        assert 0.0 <= r["quality"] <= 1.0
        assert r["stopword_ratio"] >= 0.0


def test_lang_id(docs):
    out = {r["doc_id"]: r["lang_pred"] for r in textstats.lang_id(docs).collect()}
    assert out[0] == "en"
    assert out[5] == "de"
    assert out[6] == "fr"
    assert out[4] == "und"


def test_exact_dedup(docs):
    groups = dedup.exact_dedup(docs, "doc_id").collect()
    by_keep = {r["keep_id"]: r["n_copies"] for r in groups}
    assert by_keep[0] == 2          # docs 0 and 3 collapse
    assert len(groups) == 6          # 7 docs, one dup pair
    kept = dedup.drop_exact_dups(docs, "doc_id")
    assert kept.count() == 6
    assert kept.filter(F.col("doc_id") == 3).count() == 0  # min-id representative wins


def test_jaccard_pairs(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in dedup.jaccard_pairs(docs, "doc_id", threshold=0.3).collect()}
    assert (0, 3) in pairs and pairs[(0, 3)] == 1.0
    assert (0, 1) in pairs and 0.3 <= pairs[(0, 1)] < 1.0
    assert (0, 2) not in pairs


def test_minhash_lsh_catches_near_dups(docs):
    got = {(r["doc_a"], r["doc_b"]) for r in dedup.minhash_lsh_dedup_pairs(docs, "doc_id", threshold=0.3).collect()}
    assert (0, 3) in got  # exact dup always collides in every band
    exact = {(r["doc_a"], r["doc_b"]) for r in dedup.jaccard_pairs(docs, "doc_id", threshold=0.3).collect()}
    assert got <= exact   # LSH+verify never invents pairs


def test_jaccard_doc_freq_cap(docs):
    # with a df cap of 1 every shared shingle is dropped -> no pairs survive
    pairs = dedup.jaccard_pairs(docs, "doc_id", threshold=0.1, max_doc_freq=1).collect()
    assert pairs == []


def test_simhash_identical_and_blocking(docs):
    pairs = {(r["doc_a"], r["doc_b"]): r["hamming"] for r in dedup.simhash_pairs(docs, "doc_id", max_hamming=3).collect()}
    assert pairs[(0, 3)] == 0  # identical text -> identical signature


def test_embedding_pairs(spark):
    rows = [
        (0, [1.0, 0.0, 0.0]),
        (1, [1.0, 0.01, 0.0]),   # nearly identical to 0
        (2, [0.0, 1.0, 0.0]),    # orthogonal
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    pairs = {(r["id_a"], r["id_b"]): r["cos"] for r in dedup.embedding_dup_pairs(emb, threshold=0.9).collect()}
    assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
    assert (0, 2) not in pairs


def test_brute_force_topk(spark):
    rows = [(i, [float(i == j) + 0.1 * j for j in range(4)]) for i in range(6)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = emb.filter(F.col("vec_id") == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    out = similarity.brute_force_topk(emb, q, k=3).collect()
    assert len(out) == 3
    assert [r["rank"] for r in out] == [1, 2, 3]
    assert all(r["query_id"] == 0 and r["neighbor_id"] != 0 for r in out)
    # ranks ordered by descending cosine
    cs = [r["cos"] for r in sorted(out, key=lambda r: r["rank"])]
    assert cs == sorted(cs, reverse=True)


def test_ivf_recall_vs_brute(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    brute = similarity.brute_force_topk(emb, q, k=5).collect()
    ivf = similarity.ivf_topk(emb, q, k=5, n_cells=8).collect()
    bset = {(r["query_id"], r["neighbor_id"]) for r in brute}
    iset = {(r["query_id"], r["neighbor_id"]) for r in ivf}
    # IVF nprobe=1 trades recall for a 1/n_cells candidate set; on this
    # fixture it must still find a meaningful fraction of true neighbors
    recall = len(bset & iset) / len(bset)
    assert recall >= 0.2, f"IVF recall collapsed: {recall}"
    # and every IVF hit is a real scored neighbor with correct ranking shape
    assert all(1 <= r["rank"] <= 5 for r in ivf)


def test_multimodal_plumbing(docs):
    env = multimodal.attach_binary_payload(docs)
    assert dict(env.dtypes)["content"] == "binary"
    feat = multimodal.decode_and_featurize(env)
    rows = feat.filter(F.col("doc_id") == 0).collect()
    assert len(rows) == 1
    r = rows[0]
    assert len(r["features"]) == 8
    assert all(0.0 <= x < 1.0 for x in r["features"])
    assert r["payload_bytes"] == len(rows[0]["text"].encode())
    # deterministic: same content -> same features
    r3 = feat.filter(F.col("doc_id") == 3).collect()[0]
    assert r3["features"] == r["features"]


def test_multimodal_stub_raises(docs):
    env = multimodal.attach_binary_payload(docs)
    with pytest.raises(Exception):  # NotImplementedError surfaces as PythonException
        multimodal.decode_and_featurize(env, deterministic_fake=False).collect()


def test_multimodal_decoder_injection_seam(docs):
    """Round-5 seam (r4 verdict #7): a PIL/libav-shaped callable plugs in
    without code changes; mis-shaped encoders fail loudly on batch one."""
    env = multimodal.attach_binary_payload(docs)

    def stub_decoder(payload: bytes) -> list[float]:
        # deterministic but DIFFERENT from _fake_features: first 4 bytes
        return [float(b) for b in payload[:4]]

    out = multimodal.decode_and_featurize(
        env, deterministic_fake=False, batch_feature_dim=4, decoder=stub_decoder
    )
    r = out.filter(F.col("doc_id") == 0).collect()[0]
    assert r["features"] == [float(b) for b in r["text"].encode()[:4]]
    assert r["payload_bytes"] == len(r["text"].encode())

    def bad_decoder(payload: bytes) -> list[float]:
        return [1.0, 2.0]  # wrong dim

    with pytest.raises(Exception, match="batch_feature_dim"):
        multimodal.decode_and_featurize(
            env, batch_feature_dim=4, decoder=bad_decoder
        ).collect()


def test_resize_and_frames(docs):
    env = multimodal.attach_binary_payload(docs.filter(F.col("doc_id") == 4))
    frames = multimodal.sample_frames(env, every_ms=40).collect()
    # 'tiny' = 4 chars -> 160ms duration -> frames at 0,40,80,120
    assert [f["frame_ms"] for f in frames] == [0, 40, 80, 120]


def test_bucketed_embedding_pairs_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    brute = {(r["id_a"], r["id_b"]) for r in dedup.embedding_dup_pairs(emb, threshold=0.35).collect()}
    b2 = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_dup_pairs_bucketed(emb, threshold=0.35, n_cells=8, probes=2).collect()
    }
    # every bucketed pair must be a true pair (precision 1.0: same exact
    # cosine filter, just a narrower candidate set)
    assert b2 <= brute
    # multi-probe blocking keeps a meaningful share of the true pairs
    assert len(b2) / max(len(brute), 1) >= 0.5, f"bucketed recall collapsed: {len(b2)}/{len(brute)}"
    # more probes can only widen the candidate set
    b3 = {
        (r["id_a"], r["id_b"])
        for r in dedup.embedding_dup_pairs_bucketed(emb, threshold=0.35, n_cells=8, probes=3).collect()
    }
    assert b2 <= b3


def test_ivf_nprobe_recall(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 100 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    brute = {(r["query_id"], r["neighbor_id"]) for r in similarity.brute_force_topk(emb, q, k=5).collect()}
    r1 = {(r["query_id"], r["neighbor_id"]) for r in similarity.ivf_topk(emb, q, k=5, n_cells=8, nprobe=1).collect()}
    r3 = {(r["query_id"], r["neighbor_id"]) for r in similarity.ivf_topk(emb, q, k=5, n_cells=8, nprobe=3).collect()}
    rec1 = len(brute & r1) / len(brute)
    rec3 = len(brute & r3) / len(brute)
    # probing more cells can only widen the candidate set
    assert rec3 >= rec1
    assert rec3 >= 0.4


def test_ivf_trained_centroids_improve_recall(spark):
    """Seeded spherical k-means centroids (ivf_centroids_kmeans) must beat
    the first-n stand-in quantizer at equal probes — the production-recall
    requirement. Fully deterministic (hash-ordered sample, no RNG), so the
    measured improvement is stable."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = emb.filter(F.col("vec_id") % 25 == 0).select(F.col("vec_id").alias("query_id"), "embedding")
    brute = {(r["query_id"], r["neighbor_id"]) for r in similarity.brute_force_topk(emb, q, k=5).collect()}
    firstn = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(emb, q, k=5, n_cells=8, nprobe=2).collect()
    }
    cents = similarity.ivf_centroids_kmeans(emb, n_cells=8)
    trained = {
        (r["query_id"], r["neighbor_id"])
        for r in similarity.ivf_topk(emb, q, k=5, n_cells=8, nprobe=2, centroids=cents).collect()
    }
    rec_f = len(brute & firstn) / len(brute)
    rec_t = len(brute & trained) / len(brute)
    assert rec_t >= rec_f
    assert rec_t >= 0.5
    # determinism: retraining yields the identical centroid table
    again = similarity.ivf_centroids_kmeans(emb, n_cells=8)
    assert sorted(map(tuple, cents.collect())) == sorted(map(tuple, again.collect()))


def test_ivf_first_n_requires_numeric_id(spark):
    import pytest as pt

    df = spark.createDataFrame([("a", [1.0, 0.0])], "vec_id string, embedding array<double>")
    with pt.raises(ValueError, match="numeric id"):
        similarity.ivf_centroids(df, n_cells=2)


def test_dup_clusters_long_chain_pointer_doubling(spark):
    """A 60-node path graph (worst-case diameter) must converge well inside
    max_iters thanks to pointer doubling — plain min-propagation would need
    59 rounds."""
    pairs = spark.createDataFrame([(i, i + 1) for i in range(59)], "doc_a long, doc_b long")
    out = dedup.dup_clusters(pairs, max_iters=12).collect()
    assert len(out) == 60
    assert all(r["cluster_rep"] == 0 for r in out)


def test_dup_clusters_nonconvergence_raises(spark):
    import pytest as pt

    pairs = spark.createDataFrame([(i, i + 1) for i in range(59)], "doc_a long, doc_b long")
    with pt.raises(RuntimeError):
        dedup.dup_clusters(pairs, max_iters=1)


def test_duplicated_ngram_spans(spark):
    rows = [
        (0, "alpha beta gamma delta epsilon zeta"),
        (1, "prefix alpha beta gamma delta epsilon suffix"),   # shares a 5-gram span
        (2, "nothing in common here at all friends"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = dedup.duplicated_ngram_spans(df, "doc_id", n=5, min_docs=2).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc"], []).append(r["start_pos"])
    # "alpha beta gamma delta epsilon" at pos 0 in doc0, pos 1 in doc1
    assert by_doc[0] == [0] and by_doc[1] == [1]
    assert 2 not in by_doc
    assert all(r["n_docs"] == 2 for r in out)


def test_semantic_dedup_keeps_least_prototypical(spark):
    # two near-identical vectors in cell 0; the SemDeDup keep rule picks
    # the one with LOWER cosine to the centroid (v11), not the min id
    cents = spark.createDataFrame([(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cell int, centroid array<double>")
    emb = spark.createDataFrame(
        [(10, [1.0, 0.10]), (11, [1.0, 0.12]), (20, [0.0, 1.0])],
        "vec_id long, embedding array<double>",
    )
    out = {r["vec_id"]: r for r in dedup.semantic_dedup(emb, threshold=0.99, centroids=cents).collect()}
    assert out[10]["cluster_rep"] == 10 and out[11]["cluster_rep"] == 10
    assert not out[10]["keep"] and out[11]["keep"]          # 11 is less prototypical
    assert out[11]["centroid_sim"] < out[10]["centroid_sim"]
    assert out[20]["keep"] and out[20]["cluster_rep"] == 20  # singleton survives
    assert out[10]["cell"] == 0 and out[20]["cell"] == 1


def test_remove_duplicated_spans(spark):
    rows = [
        (1, "a b c d e"),                 # keeper for both flagged 3-grams
        (2, "x a b c y"),                 # "a b c" at pos 1 -> cut
        (3, "q a b c d w"),               # "a b c"@1 and "b c d"@2 -> union cut 1..4
        (4, "no shared grams here"),      # untouched
        (5, "ab"),                        # shorter than n
        (6, ""),                          # empty
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc"]: r for r in dedup.remove_duplicated_spans(df, "doc_id", n=3, min_docs=2).collect()}
    assert len(out) == 6
    # globally-first occurrence survives verbatim
    assert out[1]["text_clean"] == "a b c d e" and out[1]["removed_tokens"] == 0
    # single flagged window cut
    assert out[2]["text_clean"] == "x y" and out[2]["removed_tokens"] == 3
    # overlapping flagged windows union before cutting
    assert out[3]["text_clean"] == "q w" and out[3]["removed_tokens"] == 4
    assert out[3]["kept_tokens"] == 2
    # untouched / short / empty docs pass through
    assert out[4]["text_clean"] == "no shared grams here"
    assert out[5]["text_clean"] == "ab" and out[6]["text_clean"] == ""
    assert out[6]["removed_tokens"] == 0 and out[6]["kept_tokens"] == 0


def test_chunk_documents(spark):
    from opentelemetry_collector_contrib_spark.operators.textstats import chunk_documents

    words = " ".join(f"w{i}" for i in range(30))
    df = spark.createDataFrame([(0, words), (1, "short doc"), (2, "")], ["doc_id", "text"])
    out = chunk_documents(df, chunk_tokens=16, overlap=4)
    got = {}
    for r in out.collect():
        got.setdefault(r["doc_id"], []).append((r["chunk_idx"], r["chunk_tokens"], r["chunk_text"]))
    # 30 tokens, stride 12: chunks at 0 (16 toks), 12 (16 toks), 24 (6 toks)
    c0 = sorted(got[0])
    assert [(i, n) for i, n, _ in c0] == [(0, 16), (1, 16), (2, 6)]
    assert c0[1][2].split(" ")[0] == "w12"          # overlap carried
    assert c0[0][2].split(" ")[-4:] == ["w12", "w13", "w14", "w15"]
    assert got[1] == [(0, 2, "short doc")]
    assert got[2] == [(0, 0, "")]                   # empty doc -> one empty chunk

    import pytest as pt
    with pt.raises(ValueError):
        chunk_documents(df, chunk_tokens=8, overlap=8)


def test_quantize_dequantize_roundtrip(spark):
    from opentelemetry_collector_contrib_spark.operators.dedup import cosine
    from opentelemetry_collector_contrib_spark.operators.similarity import dequantize, quantize_embeddings

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    q = quantize_embeddings(emb)
    joined = emb.join(q, "vec_id").withColumn(
        "recon_cos", cosine(F.col("embedding"), dequantize(F.col("q_vec"), F.col("q_scale")))
    )
    rows = joined.select("recon_cos", "q_vec").collect()
    # int8 quantization preserves direction: cosine(x, x_hat) ~ 1
    assert all(r["recon_cos"] > 0.999 for r in rows)
    assert all(-127 <= v <= 127 for r in rows for v in r["q_vec"])


def test_wav_real_decode_and_malformed(spark):
    from opentelemetry_collector_contrib_spark.operators.multimodal import (
        decode_wav_features,
        synthesize_wav,
    )

    docs = spark.createDataFrame([(0,), (8,)], ["doc_id"])
    out = {r["doc_id"]: r["wav_meta"] for r in decode_wav_features(synthesize_wav(docs)).collect()}
    assert out[0]["n_samples"] == 100 and out[0]["rms"] == 1000.0
    assert out[8]["n_samples"] == 180 and out[8]["rms"] == 1100.0  # 8%7=1
    assert out[0]["sample_rate"] == 8000 and out[0]["n_channels"] == 1
    # malformed payload -> nulls, never an error (on_error=send)
    bad = spark.createDataFrame([(1, b"not a riff container")], "doc_id long, wav binary")
    r = decode_wav_features(bad).collect()[0]["wav_meta"]
    assert r["sample_rate"] is None and r["rms"] is None


def test_png_real_decode_and_malformed(spark):
    from opentelemetry_collector_contrib_spark.operators.multimodal import (
        decode_png_features,
        synthesize_png,
    )

    docs = spark.createDataFrame([(0,), (21,)], ["doc_id"])
    out = {r["doc_id"]: r["png_meta"] for r in decode_png_features(synthesize_png(docs)).collect()}
    assert (out[0]["width"], out[0]["height"], out[0]["mean_pixel"]) == (1, 1, 0.0)
    assert (out[21]["width"], out[21]["height"]) == (6, 6)  # 21%16=5+1, 21%8=5+1
    assert out[21]["mean_pixel"] == 21.0 and out[21]["bit_depth"] == 8
    bad = spark.createDataFrame([(1, b"GIF89a not png")], "doc_id long, png binary")
    r = decode_png_features(bad).collect()[0]["png_meta"]
    assert r["width"] is None and r["mean_pixel"] is None


def test_wav_8bit_and_png_rgb_guards(spark):
    """Valid-but-unsupported codec variants must degrade safely: 8-bit WAV
    decodes fully (unsigned samples recentered); an RGB/filtered PNG yields
    nulls instead of a silently-garbage mean."""
    import io
    import struct as st
    import wave
    import zlib

    from opentelemetry_collector_contrib_spark.operators.multimodal import (
        decode_png_features,
        decode_wav_features,
    )

    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1); w.setsampwidth(1); w.setframerate(8000)
        w.writeframes(bytes([128 + 50, 128 - 50] * 50))  # 8-bit, amp 50
    wdf = spark.createDataFrame([(1, buf.getvalue())], "id long, wav binary")
    r = decode_wav_features(wdf).collect()[0]["wav_meta"]
    assert r["sample_rate"] == 8000 and r["n_samples"] == 100 and r["rms"] == 50.0

    def chunk(tag, payload):
        return st.pack(">I", len(payload)) + tag + payload + st.pack(">I", zlib.crc32(tag + payload) & 0xFFFFFFFF)

    ihdr = st.pack(">IIBBBBB", 2, 1, 8, 2, 0, 0, 0)  # color type 2 = RGB
    raw = b"\x00" + bytes([10, 20, 30, 40, 50, 60])
    rgb = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr) + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b"")
    pdf = spark.createDataFrame([(1, rgb)], "id long, png binary")
    p = decode_png_features(pdf).collect()[0]["png_meta"]
    # header fields preserved, pixel path refused (no garbage mean)
    assert p["mean_pixel"] is None and p["width"] == 2 and p["bit_depth"] == 8


def test_model_hook_lang_id_and_quality(docs):
    """Mounted BatchModel rides the cloudpickled UDF closure and replaces
    the scoring column; the heuristic default is untouched. The fakes are
    defined locally so cloudpickle serializes them by value — exactly how
    a notebook-defined model would ship."""

    class _FakeLangModel(textstats.BatchModel):
        def predict_batch(self, texts):
            return texts.map(lambda t: "xx" if t and "fox" in t else "yy")

    class _FakeQualityModel(textstats.BatchModel):
        def predict_batch(self, texts):
            return texts.map(lambda t: min(len(t or "") / 100.0, 1.0))

    out = {r["doc_id"]: r["lang_pred"] for r in textstats.lang_id(docs, model=_FakeLangModel()).collect()}
    assert out[0] == "xx" and out[2] == "yy"
    q = {r["doc_id"]: r["quality"] for r in textstats.quality_score(docs, model=_FakeQualityModel()).collect()}
    assert q[0] == pytest.approx(min(len("the quick brown fox jumps over the lazy dog") / 100.0, 1.0))
    # feature ratio columns survive a mounted model (they feed filters)
    cols = textstats.quality_score(docs, model=_FakeQualityModel()).columns
    assert {"stopword_ratio", "punct_ratio", "digit_ratio", "quality"} <= set(cols)
    # default heuristic path unchanged
    h = {r["doc_id"]: r["lang_pred"] for r in textstats.lang_id(docs).collect()}
    assert h[5] == "de"


def test_cluster_balance_caps_and_determinism(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = similarity.cluster_balance(emb, cap=10, n_cells=4).collect()
    by_cell: dict[int, list[int]] = {}
    for r in out:
        by_cell.setdefault(r["cell"], []).append(r["bal_rank"])
    for cell, ranks in by_cell.items():
        assert len(ranks) <= 10
        assert sorted(ranks) == list(range(1, len(ranks) + 1))
    # deterministic across reruns
    again = similarity.cluster_balance(emb, cap=10, n_cells=4).collect()
    assert {(r["vec_id"], r["cell"], r["bal_rank"]) for r in again} == {
        (r["vec_id"], r["cell"], r["bal_rank"]) for r in out
    }
    # a full-size cap keeps everything (the gate only truncates)
    total = emb.count()
    assert similarity.cluster_balance(emb, cap=10**9, n_cells=4).count() == total


def test_tfidf_topk_rare_term_wins(spark):
    rows = [
        (1, "apple banana banana"),
        (2, "apple cherry"),
        (3, "apple durian"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = textstats.tfidf_topk(df, k=2).collect()
    by_doc: dict[int, list] = {}
    for r in sorted(out, key=lambda r: (r["doc_id"], r["rank"])):
        by_doc.setdefault(r["doc_id"], []).append(r)
    # 'apple' appears in every doc (df=3, lowest idf); doc 1's top term is
    # the doubled rare 'banana', and 'apple' still outranks nothing else
    assert by_doc[1][0]["term"] == "banana" and by_doc[1][0]["tf"] == 2
    assert by_doc[1][1]["term"] == "apple"
    assert all(len(v) <= 2 for v in by_doc.values())
    # df bookkeeping: apple in 3 docs, banana in 1
    apple = next(r for r in out if r["term"] == "apple")
    banana = next(r for r in out if r["term"] == "banana")
    assert apple["df"] == 3 and banana["df"] == 1
    assert banana["score"] > apple["score"]


def test_corpus_summary_dup_fraction(spark):
    rows = [
        (1, "same text", "a"), (2, "same text", "a"), (3, "other words here", "a"),
        (4, "unique", "b"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {r["source"]: r for r in textstats.corpus_summary(df).collect()}
    assert out["a"]["n_docs"] == 3 and out["a"]["n_distinct_texts"] == 2
    assert out["a"]["dup_frac"] == pytest.approx(1 / 3, abs=1e-6)
    assert out["a"]["n_tokens"] == 2 + 2 + 3
    assert out["b"]["dup_frac"] == 0.0


# --- incremental keep-first dedup -------------------------------------------


def _chain_docs(spark):
    """A ~ B (J=.565), B ~ C (J=.565), A !~ C (J=.286) at threshold 0.4:
    the chain that distinguishes keep-first-with-tombstones from naive
    keep-vs-kept-only. Tests use bands=8/rows=1 so a J≥0.4 pair collides
    in some band with near-certainty (per-band p = J, 8 independent
    bands); the fixture is deterministic either way (h60 is a fixed
    hash — these exact collisions were verified once and never change)."""
    words = ["alpha", "bravo", "charlie", "delta", "echo", "foxtrot", "golf",
             "hotel", "india", "juliet", "kilo", "lima", "mike", "november",
             "oscar", "papa", "quebec", "romeo", "sierra", "tango"]
    tailw = ["uniform", "victor", "whiskey", "xray", "yankee"]
    headw = ["zebra", "apple", "berry", "cedar", "dune"]
    a = " ".join(words)
    b = " ".join(words[:-5] + tailw)           # last 5 words differ from A
    c = " ".join(headw + words[5:-5] + tailw)  # first 5 also differ
    return spark.createDataFrame(
        [(1, a), (2, b), (3, c), (4, "totally different content words here")],
        "doc_id long, text string",
    )


_KF = dict(bands=8, rows=1, threshold=0.4)


def test_keep_first_tombstone_chain(spark):
    """B drops against A; C matches only B (itself dropped) — C must STILL
    drop, because dropped docs stay in the index as tombstones. Incremental
    (one batch per doc) == one-shot."""
    docs = _chain_docs(spark)
    pairs = dedup.minhash_lsh_dedup_pairs(docs, "doc_id", **_KF)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    assert got == {(1, 2), (2, 3)}, got

    one_shot = {r["doc_id"] for r in dedup.dedup_keep_first(docs, "doc_id", **_KF).collect()}
    assert one_shot == {1, 4}

    state = None
    kept = set()
    for i in (1, 2, 3, 4):
        nv, state = dedup.dedup_keep_first_incremental(
            docs.filter(F.col("doc_id") == i), state, "doc_id", **_KF
        )
        kept |= {r["doc_id"] for r in nv.collect()}
    assert kept == one_shot


def test_keep_first_incremental_agrees_on_corpus(spark):
    """3 id-ordered batches over the sf0.001 documents == one-shot."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    one_shot = {r["doc_id"] for r in dedup.dedup_keep_first(docs, "doc_id", threshold=0.4).collect()}

    state = None
    kept = set()
    for lo, hi in ((0, 15), (15, 30), (30, 10**9)):
        b = docs.filter((F.col("doc_id") >= lo) & (F.col("doc_id") < hi))
        nv, state = dedup.dedup_keep_first_incremental(b, state, "doc_id", threshold=0.4)
        kept |= {r["doc_id"] for r in nv.collect()}
    assert kept == one_shot


def test_keep_first_state_persists_via_snapshots(spark, tmp_path):
    """The dedup state survives a restart: buckets/shingles committed to the
    snapshot store between batches, read back cold, same result — the
    resumable-from-checkpoint contract for incremental dedup."""
    from opentelemetry_collector_contrib_spark.plans.snapshots import (
        read_snapshot,
        write_snapshot,
    )

    docs = _chain_docs(spark)
    bk_tbl, sh_tbl = str(tmp_path / "bk"), str(tmp_path / "sh")

    kept = set()
    for i in (1, 2, 3, 4):
        if i == 1:
            state = None
        else:
            state = (read_snapshot(spark, bk_tbl), read_snapshot(spark, sh_tbl))
        nv, (bk, sh) = dedup.dedup_keep_first_incremental(
            docs.filter(F.col("doc_id") == i), state, "doc_id", **_KF
        )
        kept |= {r["doc_id"] for r in nv.collect()}
        write_snapshot(bk, bk_tbl, mode="overwrite")
        write_snapshot(sh, sh_tbl, mode="overwrite")
    assert kept == {1, 4}


def test_png_dhash_closed_form_and_malformed(spark):
    from opentelemetry_collector_contrib_spark.operators.multimodal import (
        png_dhash,
        synthesize_png_pattern,
    )

    docs = spark.createDataFrame([(i,) for i in (0, 1, 5, 255)], "doc_id long")
    out = {r["doc_id"]: r["dhash"] for r in png_dhash(synthesize_png_pattern(docs)).collect()}
    expect = {
        i: sum(127 << (7 * y) for y in range(8) if (i >> y) & 1) for i in (0, 1, 5, 255)
    }
    assert out == expect

    bad = spark.createDataFrame([(bytearray(b"not a png"),)], "png binary")
    assert png_dhash(bad).collect()[0]["dhash"] is None


def test_dhash_pairs_hamming_relation(spark):
    """dHash hamming = 7 x popcount(xor of the low-8 id bits) on the
    synthetic gradient images — blocking must recover exactly those pairs."""
    from pyspark.sql import functions as FF

    from opentelemetry_collector_contrib_spark.operators.dedup import hamming_blocked_pairs
    from opentelemetry_collector_contrib_spark.operators.multimodal import (
        png_dhash,
        synthesize_png_pattern,
    )

    ids = [0, 1, 2, 3, 256, 257]
    docs = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    sig = png_dhash(synthesize_png_pattern(docs)).select(
        FF.col("doc_id").alias("doc"), FF.col("dhash").alias("sig")
    )
    got = {(r["doc_a"], r["doc_b"]): r["hamming"]
           for r in hamming_blocked_pairs(sig, bits=56, max_hamming=7, chunks=8).collect()}
    expect = {}
    for i in ids:
        for j in ids:
            if i < j:
                hp = bin((i & 255) ^ (j & 255)).count("1")
                if hp <= 1:
                    expect[(i, j)] = 7 * hp
    assert got == expect


def test_incremental_state_never_double_inserts_on_replay(spark):
    """Replaying a batch against a state that already absorbed it must add
    NOTHING: duplicated shingle rows would inflate every later
    exact-Jaccard intersection (2i/(2|A|+|B|-2i) > i/(|A|+|B|-i)) and
    silently flip keep verdicts."""
    docs = _chain_docs(spark).filter(F.col("doc_id") == 1)
    _, state = dedup.dedup_keep_first_incremental(docs, None, "doc_id", **_KF)
    # replay: same batch against the state that already contains it
    _, state2 = dedup.dedup_keep_first_incremental(docs, state, "doc_id", **_KF)
    bk1, sh1 = state
    bk2, sh2 = state2
    assert sh2.count() == sh1.count()
    assert bk2.count() == bk1.count()
    # and a packed state round-trips losslessly
    packed = dedup.pack_dedup_state(bk2, sh2)
    bk3, sh3 = dedup.unpack_dedup_state(packed)
    assert bk3.count() == bk2.count() and sh3.count() == sh2.count()


def test_exact_dedup_incremental_equals_one_shot(spark):
    """id-ordered batched exact dedup == drop_exact_dups, including a dup
    whose twin arrived in an EARLIER batch and a replayed batch."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").select("doc_id", "text")
    one_shot = {r["doc_id"] for r in dedup.drop_exact_dups(docs, "doc_id").collect()}

    state, kept = None, set()
    batches = [
        docs.filter((F.col("doc_id") >= a) & (F.col("doc_id") < b))
        for a, b in ((0, 20), (20, 35), (35, 10**9))
    ]
    for b in batches:
        novel, state = dedup.exact_dedup_incremental(b, state, "doc_id")
        kept |= {r["doc_id"] for r in novel.collect()}
    assert kept == one_shot

    # replay the last batch: nothing new, state size unchanged
    n_before = state.count()
    novel2, state2 = dedup.exact_dedup_incremental(batches[-1], state, "doc_id")
    assert novel2.count() == 0
    assert state2.count() == n_before


def test_exact_dedup_incremental_cross_batch_twin(spark):
    """A text whose exact twin (modulo whitespace/case normalization)
    arrived in an EARLIER batch must drop; within-batch twins keep min id."""
    b1 = spark.createDataFrame(
        [(1, "Hello   World"), (2, "unique one")], "doc_id long, text string"
    )
    b2 = spark.createDataFrame(
        [(3, "hello world"), (4, "fresh text"), (5, "fresh  TEXT")],
        "doc_id long, text string",
    )
    novel1, state = dedup.exact_dedup_incremental(b1, None, "doc_id")
    novel2, state = dedup.exact_dedup_incremental(b2, state, "doc_id")
    assert {r["doc_id"] for r in novel1.collect()} == {1, 2}
    assert {r["doc_id"] for r in novel2.collect()} == {4}  # 3 dups 1; 5 dups 4 in-batch
    assert state.count() == 3  # three distinct normalized texts ever seen


def test_char_entropy_known_values(spark):
    import math

    from opentelemetry_collector_contrib_spark.operators.textstats import char_entropy

    df = spark.createDataFrame(
        [("uniform", "abcd"), ("single", "aaaa"), ("empty", ""), ("skew", "aab")],
        "doc_id string, text string",
    )
    out = {r["doc_id"]: r["char_entropy"] for r in char_entropy(df).collect()}
    assert out["uniform"] == 2.0  # 4 distinct chars, equal counts
    assert out["single"] == 0.0
    assert out["empty"] == 0.0
    expect = round(math.log2(3) - (2 * math.log2(2)) / 3, 6)
    assert out["skew"] == expect


def test_char_entropy_cap_and_plan(spark):
    import contextlib
    import io

    from opentelemetry_collector_contrib_spark.operators.textstats import char_entropy

    df = spark.createDataFrame([("d", "ab" * 5000)], "doc_id string, text string")
    row = char_entropy(df, max_chars=10).collect()[0]
    assert row["char_entropy"] == 1.0  # only the first 10 chars counted
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        char_entropy(df).explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan and "Join" not in plan


def test_bm25_self_retrieval_and_df_cap(spark):
    from opentelemetry_collector_contrib_spark.operators.textstats import bm25_search

    docs = spark.createDataFrame(
        [
            (1, "quick brown fox jumps over the lazy dog"),
            (2, "the quick blue hare sleeps all day long"),
            (3, "unrelated text about spark shuffles and joins"),
            (4, "the the the the the the the the"),
        ],
        "doc_id long, text string",
    )
    qs = spark.createDataFrame(
        [(100, "quick brown fox")], "query_id long, query_text string"
    )
    out = bm25_search(docs, qs, top_k=3).collect()
    assert out[0].doc_id == 1 and out[0].rank == 1  # exact-phrase doc wins
    assert all(a.score >= b.score for a, b in zip(out, out[1:]))
    assert {r.doc_id for r in out} <= {1, 2}  # doc 3/4 share no query term... (4 has 'the'? no)
    # df cap: 'the' appears in 3 docs; max_df=2 drops it from candidates,
    # so a 'the'-only query matches nothing
    only_the = spark.createDataFrame([(7, "the")], "query_id long, query_text string")
    assert bm25_search(docs, only_the, max_df=2).count() == 0
    assert bm25_search(docs, only_the).count() == 3


def test_ngram_novelty_flags_corpus_common_phrases(spark):
    from opentelemetry_collector_contrib_spark.operators.textstats import (
        ngram_novelty,
    )

    common = "terms of service apply"
    docs = spark.createDataFrame(
        [
            (1, f"alpha beta gamma {common}"),
            (2, f"delta epsilon zeta {common}"),
            (3, f"eta theta iota {common}"),
            (4, "completely novel text with unique phrasing here"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r for r in ngram_novelty(docs, n=3, common_df=2).collect()}
    # 'terms of service' + 'of service apply' appear in 3 docs (> 2)
    assert out[1].n_common == 2 and out[1].novelty < 1.0
    assert out[4].n_common == 0 and out[4].novelty == 1.0
    assert out[1].n_grams == 5  # 7 tokens -> 5 3-grams


def test_rrf_fuse_combines_lists(spark):
    # doc 10 ranks 1st in both lists; doc 20 is lexical-only rank 2;
    # doc 30 is dense-only rank 2; doc 40 dense rank 1 only
    lex = spark.createDataFrame(
        [(1, 10, 1), (1, 20, 2)], "query_id long, doc_id long, rank int"
    )
    dense = spark.createDataFrame(
        [(1, 40, 1), (1, 10, 2), (1, 30, 3)], "query_id long, doc_id long, rank int"
    )
    out = similarity.rrf_fuse([lex, dense], k0=60, top_k=10)
    rows = {r.doc_id: r for r in out.collect()}
    # both-lists doc wins: 1/61 + 1/62 > 1/61 (single first place)
    assert rows[10].rank == 1 and rows[40].rank == 2
    assert abs(rows[10].rrf_score - (1 / 61 + 1 / 62)) < 1e-8
    # single-list docs score exactly their one contribution
    assert abs(rows[20].rrf_score - 1 / 62) < 1e-8
    assert abs(rows[30].rrf_score - 1 / 63) < 1e-8
    # deterministic tie-break on doc_id when scores tie
    lex2 = spark.createDataFrame([(2, 7, 1), (2, 5, 1)], "query_id long, doc_id long, rank int")
    tied = {r.doc_id: r.rank for r in similarity.rrf_fuse([lex2]).filter(F.col("query_id") == 2).collect()}
    assert tied == {5: 1, 7: 2}


def test_wav_window_segmentation(spark):
    import io
    import struct
    import wave

    from opentelemetry_collector_contrib_spark.operators.multimodal import (
        segment_wav_windows,
        synthesize_wav,
    )

    # doc 0: 100 samples -> one partial 25ms window (win = 200 samples @8k)
    # doc 30: 100+30%50*10 = 400 samples -> exactly two full windows
    docs = spark.createDataFrame([(0,), (30,)], ["doc_id"])
    out = segment_wav_windows(synthesize_wav(docs), window_ms=25)
    rows = {(r["doc_id"], r["win_idx"]): r for r in out.collect()}
    assert set(rows) == {(0, 0), (30, 0), (30, 1)}
    assert rows[(0, 0)]["win_samples"] == 100 and rows[(0, 0)]["win_rms"] == 1000.0
    assert rows[(30, 1)]["start_ms"] == 25 and rows[(30, 1)]["win_samples"] == 200
    assert not rows[(0, 0)]["is_silence"]

    # a half-silent payload: 200 loud samples then 200 zeros -> window 1 silent
    buf = io.BytesIO()
    with wave.open(buf, "wb") as w:
        w.setnchannels(1); w.setsampwidth(2); w.setframerate(8000)
        w.writeframes(b"".join(struct.pack("<h", 500 if i < 200 else 0) for i in range(400)))
    mixed = spark.createDataFrame([(7, buf.getvalue())], "doc_id long, wav binary")
    got = {r["win_idx"]: r for r in segment_wav_windows(mixed, window_ms=25).collect()}
    assert got[0]["win_rms"] == 500.0 and not got[0]["is_silence"]
    assert got[1]["win_rms"] == 0.0 and got[1]["is_silence"]

    # malformed payload contributes zero windows
    bad = spark.createDataFrame([(9, b"junk")], "doc_id long, wav binary")
    assert segment_wav_windows(bad).count() == 0


def test_json_path_profile_walks_nested_and_malformed(spark):
    from opentelemetry_collector_contrib_spark.operators.profiling import json_path_profile

    df = spark.createDataFrame(
        [
            ('{"a": {"b": [1, "x", null]}, "c": true}',),
            ('{"a": {"b": []}}',),
            ("not json",),
            (None,),
        ],
        "payload string",
    )
    got = {(r["path"], r["jtype"]): r["n"] for r in json_path_profile(df, "payload").collect()}
    assert got[("$", "object")] == 2 and got[("$", "malformed")] == 1
    assert got[("$.a.b", "array")] == 2
    # array elements collapse to [*] with per-type counts
    assert got[("$.a.b[*]", "number")] == 1
    assert got[("$.a.b[*]", "string")] == 1
    assert got[("$.a.b[*]", "null")] == 1
    assert got[("$.c", "boolean")] == 1
    assert ("$", "null") not in got  # NULL payloads are skipped, not typed

    # depth cap stops descent but still types the node at the cap
    deep = spark.createDataFrame([('{"a": {"b": {"c": {"d": 1}}}}',)], "payload string")
    capped = {r["path"] for r in json_path_profile(deep, "payload", max_depth=2).collect()}
    assert "$.a.b" in capped and "$.a.b.c" not in capped


def test_keep_best_per_cluster(spark):
    docs = spark.createDataFrame(
        [(1, 10.0), (2, 30.0), (3, 30.0), (4, 5.0), (9, 1.0)],
        "doc_id long, q double",
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 4)], "doc long, cluster_rep long"
    )
    got = {r["doc_id"]: r for r in dedup.keep_best_per_cluster(docs, clusters, "q").collect()}
    # cluster 1: docs 2 and 3 tie on score -> smaller id (2) wins
    assert got[2]["keep"] and not got[3]["keep"] and not got[1]["keep"]
    assert got[2]["cluster_rep"] == 1
    # singleton-in-cluster-table and unclustered doc both keep themselves
    assert got[4]["keep"] and got[9]["keep"] and got[9]["cluster_rep"] == 9


# ---------------------------------------------------------------------------
# product quantization
# ---------------------------------------------------------------------------


def test_pq_encode_codes_shape_and_determinism(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = similarity.pq_codebooks(emb)
    codes = similarity.pq_encode(cb, emb).collect()
    assert len(codes) == emb.count()
    for r in codes:
        assert len(r["codes"]) == 4
        assert all(0 <= c < 16 for c in r["codes"])
    # a codebook source vector quantizes to its own codeword in every subspace
    own = {r["vec_id"]: r["codes"] for r in codes}
    for vid in range(3):
        assert own[vid] == [vid] * 4


def test_pq_encode_plan_is_native_projection(spark):
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    codes = similarity.pq_encode(similarity.pq_codebooks(emb), emb)
    plan = codes._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Exchange" not in plan  # inlined codebook: zero joins, zero shuffle


def test_pq_adc_candidate_recall_beats_chance(spark):
    """PQ-ADC is a candidate generator: the exact top-5 must land in the
    ADC top-20 shortlist far above random chance (20/499 ≈ 4%), and
    trained codebooks must beat the first-k stand-in. The fixture is
    isotropic noise — the hardest case for PQ — so absolute recall is
    low by construction; everything here is deterministic (seeded
    sample, integer distances), so the bounds are stable."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = emb.collect()
    vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in rows}
    exact = set()
    for qid in vecs:
        if qid % 25 != 0:
            continue
        dists = sorted(
            ((np.sum((vecs[qid] - v) ** 2), nid) for nid, v in vecs.items() if nid != qid)
        )[:5]
        exact |= {(qid, nid) for _, nid in dists}

    qs = emb.filter(F.col("vec_id") % 25 == 0)

    def shortlist_recall(cb):
        codes = similarity.pq_encode(cb, emb)
        got = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.pq_topk_adc(codes, cb, qs, k=20).collect()
        }
        return len(got & exact) / len(exact)

    r_first = shortlist_recall(similarity.pq_codebooks(emb))
    r_kmeans = shortlist_recall(similarity.pq_codebooks_kmeans(emb))
    assert r_first >= 0.15  # ~4x random chance
    assert r_kmeans >= 0.3  # ~8x random chance
    assert r_kmeans > r_first


def test_pq_kmeans_codebooks_cut_quantization_error(spark):
    """Trained per-subspace codebooks must reduce mean quantization error
    vs the first-k stand-in — deterministic (seeded sample, no RNG)."""
    import numpy as np

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

    def mean_err(cb_df):
        cb = {(r["subspace"], r["code"]): np.asarray(r["codeword"]) for r in cb_df.collect()}
        codes = {r["vec_id"]: r["codes"] for r in similarity.pq_encode(cb_df, emb).collect()}
        vecs = {r["vec_id"]: np.asarray(r["embedding"], dtype=np.float64) for r in emb.collect()}
        errs = []
        for vid, v in vecs.items():
            recon = np.concatenate([cb[(s, codes[vid][s])] for s in range(4)])
            errs.append(float(np.sum((v - recon) ** 2)))
        return sum(errs) / len(errs)

    e_first = mean_err(similarity.pq_codebooks(emb))
    e_kmeans = mean_err(similarity.pq_codebooks_kmeans(emb))
    assert e_kmeans < e_first


def test_ivfpq_is_subset_scored_consistently(spark):
    """IVF+PQ candidates are the probed-cells subset; for any (query,
    neighbor) pair both IVF+PQ and flat PQ-ADC must agree on the integer
    distance, and IVF+PQ recall vs flat ADC grows with nprobe."""
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    qs = emb.filter(F.col("vec_id") % 25 == 0)
    cb = similarity.pq_codebooks(emb)
    flat = {
        (r["query_id"], r["neighbor_id"]): r["adc_dist"]
        for r in similarity.pq_topk_adc(
            similarity.pq_encode(cb, emb), cb, qs, k=500
        ).collect()
    }
    p1 = {(r["query_id"], r["neighbor_id"]): r["adc_dist"]
          for r in similarity.pq_topk_ivf_adc(emb, qs, nprobe=1, k=500).collect()}
    p3 = {(r["query_id"], r["neighbor_id"]): r["adc_dist"]
          for r in similarity.pq_topk_ivf_adc(emb, qs, nprobe=3, k=500).collect()}
    assert set(p1) <= set(flat) and set(p3) <= set(flat)
    assert set(p1) <= set(p3)  # probing more cells only widens candidates
    for pair, dist in p3.items():
        assert flat[pair] == dist  # identical integer ADC scores


def test_pq_adc_max_queries_guard(spark):
    """The per-query ADC LUT is built on the driver; a corpus-sized query
    set must be refused loudly (r4 verdict 'what's wrong' #4) instead of
    melting the driver. Small sets still work under an explicit bound."""
    import pytest as _pytest

    from opentelemetry_collector_contrib_spark.operators import similarity

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cb = similarity.pq_codebooks(emb)
    codes = similarity.pq_encode(cb, emb)
    qs = emb.filter(F.col("vec_id") % 100 == 0)
    n_q = qs.count()
    with _pytest.raises(ValueError, match="max_queries"):
        similarity.pq_topk_adc(codes, cb, qs, k=3, max_queries=n_q - 1)
    with _pytest.raises(ValueError, match="max_queries"):
        similarity.pq_topk_ivf_adc(emb, qs, k=3, max_queries=n_q - 1)
    # at the bound the search still runs and hashes like before
    out = similarity.pq_topk_adc(codes, cb, qs, k=3, max_queries=n_q)
    assert out.count() == n_q * 3


def test_cosine_zero_vector_guard(spark):
    """A zero-norm embedding (the failed-embedding sentinel) must score
    similarity 0 against everything — not abort the job with ANSI
    DIVIDE_BY_ZERO (round-5 review; without ANSI it would be a silent
    false-duplicate: 0/0=NaN compares greater than any threshold)."""
    from opentelemetry_collector_contrib_spark.operators.dedup import (
        cosine,
        embedding_dup_pairs,
    )

    rows = [(0, [0.0, 0.0]), (1, [0.0, 0.0]), (2, [1.0, 0.0]), (3, [1.0, 0.0])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    vals = df.crossJoin(df.selectExpr("vec_id as v2", "embedding as e2")) \
        .select(cosine(F.col("embedding"), F.col("e2")).alias("c")).collect()
    assert all(r["c"] is not None for r in vals)  # no NULLs, no crash
    got = {(r[0], r[1]) for r in embedding_dup_pairs(df, threshold=0.9).collect()}
    assert got == {(2, 3)}  # zero-vector pairs are NOT near-duplicates
