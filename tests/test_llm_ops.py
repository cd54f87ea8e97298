"""Semantic tests for the LLM-data operators: recall of planted
near-duplicates, ANN recall vs exact top-k, survivor resolution,
multimodal plumbing shape."""

import pytest
from pyspark.sql import functions as F

from gasket_spark.io import read_table
from gasket_spark.operators import dedup as D
from gasket_spark.operators import multimodal as M
from gasket_spark.operators import similarity as S
from tests.conftest import SF_SMALL


@pytest.fixture(scope="module")
def docs(spark):
    return read_table(spark, SF_SMALL, "documents").select("doc_id", "text")


@pytest.fixture(scope="module")
def corpus_with_twins(spark, docs):
    toks = F.split("text", " ")
    mutated = docs.select((F.col("doc_id") + 100000).alias("doc_id"),
                          F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 1))
                          .alias("text"))
    return docs.unionByName(mutated).cache()


class TestMinHashLSH:
    def test_planted_twins_recovered(self, docs, corpus_with_twins):
        n_docs = docs.count()
        pairs = D.minhash_lsh_pairs(corpus_with_twins, threshold=0.5)
        twins = pairs.filter(F.col("id_b") == F.col("id_a") + 100000).count()
        # banding (16 bands × 4 rows) at jaccard ≈ .97 → recall ≈ 1
        assert twins >= 0.95 * n_docs

    def test_no_self_pairs_and_ordered(self, corpus_with_twins):
        pairs = D.minhash_lsh_pairs(corpus_with_twins, threshold=0.5)
        assert pairs.filter(F.col("id_a") >= F.col("id_b")).count() == 0

    def test_jaccard_matches_exact(self, corpus_with_twins):
        lsh = D.minhash_lsh_pairs(corpus_with_twins, threshold=0.5)
        exact = D.ngram_jaccard_pairs(corpus_with_twins, threshold=0.5)
        joined = lsh.alias("l").join(
            exact.alias("e"), ["id_a", "id_b"]).select(
            (F.abs(F.col("l.jaccard") - F.col("e.jaccard")) < 1e-9).alias("ok"))
        assert joined.filter(~F.col("ok")).count() == 0


class TestSimHash:
    def test_exact_recall_vs_brute_force(self, corpus_with_twins):
        """Pigeonhole contract: with 4 blocks and max_hamming 3, the
        block join must find EVERY pair within hamming ≤ 3 — compare
        the operator's output to a brute-force all-pairs scan of the
        very same signatures."""
        from gasket_spark.functions import text as T

        pairs = D.simhash_pairs(corpus_with_twins, max_hamming=3)
        got = {(r.id_a, r.id_b, r.hamming) for r in pairs.collect()}

        sig = corpus_with_twins.select(
            "doc_id", T.simhash64("text").alias("sig"))
        a, b = sig.alias("a"), sig.alias("b")
        brute = (
            a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
            .select(F.col("a.doc_id").alias("id_a"),
                    F.col("b.doc_id").alias("id_b"),
                    F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
                    .alias("hamming"))
            .filter(F.col("hamming") <= 3)
        )
        want = {(r.id_a, r.id_b, r.hamming) for r in brute.collect()}
        assert got == want
        assert len(want) > 0  # the planted twins make this non-vacuous

    def test_tf_weighting_separates_twins_from_strangers(
            self, docs, corpus_with_twins):
        """TF-weighted signatures: a doc's near-identical twin sits far
        closer in Hamming space than the median unrelated pair (the
        distinct-token variant degenerates on a 31-word vocabulary)."""
        from gasket_spark.functions import text as T

        sig = corpus_with_twins.select(
            "doc_id", T.simhash64("text").alias("sig"))
        a, b = sig.alias("a"), sig.alias("b")
        twin_h = (
            a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 100000)
            .select(F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
                    .alias("h"))
            .agg(F.avg("h")).collect()[0][0])
        stranger_h = (
            a.join(b, F.col("b.doc_id") == F.col("a.doc_id") + 7)  # unrelated
            .select(F.bit_count(F.col("a.sig").bitwiseXOR(F.col("b.sig")))
                    .alias("h"))
            .agg(F.avg("h")).collect()[0][0])
        assert twin_h < stranger_h / 3


class TestDedupResolution:
    def test_exact_dedup_on_real_dups(self, spark):
        df = spark.createDataFrame(
            [(1, "same text"), (2, "same text"), (3, "other")],
            "doc_id long, text string")
        out = D.exact_dedup(df).orderBy("doc_id").collect()
        assert [(r.doc_id, r.dup_count) for r in out] == [(1, 2), (3, 1)]

    def test_dedup_by_pairs_drops_exactly_the_losers(self, spark, docs,
                                                     corpus_with_twins):
        pairs = D.minhash_lsh_pairs(corpus_with_twins, threshold=0.5)
        kept = D.dedup_by_pairs(corpus_with_twins, pairs)
        kept_ids = {r.doc_id for r in kept.select("doc_id").collect()}
        all_ids = {r.doc_id for r in corpus_with_twins.select("doc_id").collect()}
        losers = {r.id_b for r in pairs.select("id_b").collect()}
        # exact set semantics: dropped == appears-as-larger-id-in-a-pair
        # (note: some ORIGINALS are genuine near-dups of other originals
        # in the synthetic corpus and legitimately lose too)
        assert kept_ids == all_ids - losers
        # every planted twin that was detected is gone
        twins_found = {r.id_b for r in pairs.filter(
            F.col("id_b") == F.col("id_a") + 100000).collect()}
        assert not (twins_found & kept_ids)


class TestSimilarity:
    def test_exact_topk_shape(self, spark):
        emb = read_table(spark, SF_SMALL, "embeddings").select(
            "vec_id", "embedding")
        queries = emb.filter(F.col("vec_id") < 5)
        out = S.cosine_topk(emb, queries, k=3)
        rows = out.collect()
        assert len(rows) == 5 * 3
        assert all(-1.0001 <= r.cos_sim <= 1.0001 for r in rows)
        # ranks are 1..3 per query, descending similarity
        for qid in range(5):
            rs = sorted([r for r in rows if r.query_id == qid],
                        key=lambda r: r.rank)
            assert [r.rank for r in rs] == [1, 2, 3]
            assert rs[0].cos_sim >= rs[1].cos_sim >= rs[2].cos_sim

    def test_identical_vector_is_top1(self, spark):
        emb = read_table(spark, SF_SMALL, "embeddings").select(
            "vec_id", "embedding")
        clone = emb.filter(F.col("vec_id") == 7).select(
            F.lit(99999).cast("long").alias("vec_id"), "embedding")
        corpus = emb.unionByName(clone)
        out = S.cosine_topk(corpus, clone, k=1).collect()
        assert out[0].neighbor_id == 7
        assert out[0].cos_sim == pytest.approx(1.0, abs=1e-9)

    def test_ann_finds_planted_neighbors(self, spark):
        """LSH recall is only meaningful for genuinely-near vectors
        (uniform random data has no near neighbors to find): plant a
        mildly-perturbed clone per query; ANN must surface it top-5."""
        emb = read_table(spark, SF_SMALL, "embeddings").select(
            "vec_id", "embedding")
        queries = emb.filter(F.col("vec_id") < 50)
        perturbed = queries.select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(
                "embedding",
                lambda x, i: x + 0.02 * ((i % 7) - 3) / 3.0).alias("embedding"))
        corpus = emb.unionByName(perturbed)
        ann = S.ann_lsh_topk(corpus, queries, k=5)
        hits = ann.filter(
            F.col("neighbor_id") == F.col("query_id") + 100000).count()
        assert hits >= 45, f"planted-neighbor recall {hits}/50"

    def test_embedding_near_dup_finds_clones(self, spark):
        emb = read_table(spark, SF_SMALL, "embeddings").select(
            "vec_id", "embedding")
        n = emb.count()
        clones = emb.select((F.col("vec_id") + 100000).alias("vec_id"),
                            "embedding")
        pairs = S.embedding_near_dup_pairs(emb.unionByName(clones),
                                           threshold=0.99)
        found = pairs.filter(F.col("id_b") == F.col("id_a") + 100000).count()
        assert found == n  # identical vectors share every LSH bucket

    def test_query_side_row_cap_guard(self, spark, monkeypatch):
        """r14: the collected query side is the operator's bounded
        side; over the cap it must raise the loud contract error, not
        silently balloon the kernel closure."""
        emb = read_table(spark, SF_SMALL, "embeddings").select(
            "vec_id", "embedding")
        queries = emb.filter(F.col("vec_id") < 5)
        monkeypatch.setenv("SPARK_GRAFT_MAX_QUERY_ROWS", "3")
        with pytest.raises(ValueError, match="bounded-side contract"):
            S.cosine_topk(emb, queries, k=3)
        with pytest.raises(ValueError, match="bounded-side contract"):
            S.ann_lsh_topk(emb, queries, k=3)
        # at the cap it still works
        monkeypatch.setenv("SPARK_GRAFT_MAX_QUERY_ROWS", "5")
        assert S.cosine_topk(emb, queries, k=1).count() == 5

    def test_non_integer_id_rejected_at_boundary(self, spark):
        """r14 (r13 ADVICE): the streamed kernels emit int64 ids; a
        string id column must fail with the contract TypeError at the
        operator boundary, not an opaque numpy cast inside the kernel."""
        emb = read_table(spark, SF_SMALL, "embeddings").select(
            F.col("vec_id").cast("string").alias("vec_id"), "embedding")
        queries = emb.limit(3)
        with pytest.raises(TypeError, match="int64 id"):
            S.cosine_topk(emb, queries, k=3)
        with pytest.raises(TypeError, match="int64 id"):
            S.ann_lsh_topk(emb, queries, k=3)
        with pytest.raises(TypeError, match="int64 id"):
            S.maxsim_topk(emb, queries, k=3)

    def test_duplicate_query_ids_collapse(self, spark):
        """r14 (r13 ADVICE): duplicated query rows must not double-emit
        (query_id, neighbor_id) candidates in the streamed LSH path —
        the old join form's first() dedup collapsed them."""
        emb = read_table(spark, SF_SMALL, "embeddings").select(
            "vec_id", "embedding")
        queries = emb.filter(F.col("vec_id") < 5)
        doubled = queries.unionByName(queries)
        base = {(r.query_id, r.neighbor_id, r.rank, r.cos_sim)
                for r in S.ann_lsh_topk(emb, queries, k=5).collect()}
        dup = {(r.query_id, r.neighbor_id, r.rank, r.cos_sim)
               for r in S.ann_lsh_topk(emb, doubled, k=5).collect()}
        assert dup == base
        # and no (query, neighbor) pair appears twice in the raw rows
        raw = S.ann_lsh_topk(emb, doubled, k=5).groupBy(
            "query_id", "neighbor_id").count()
        assert raw.filter(F.col("count") > 1).count() == 0


class TestMultimodal:
    def test_attach_and_extract(self, spark, docs):
        media = M.attach_media(docs)
        assert media.schema["payload"].dataType.typeName() == "binary"
        feats = M.extract_features(media)
        rows = {r.media_id: r for r in feats.filter(
            F.col("media_id") < 3).collect()}
        assert rows[0].feature == "ppm:4x3"        # real image decode
        assert rows[2].feature == "avi:6x4:4@10"   # real video decode
        assert all(r.n_bytes > 0 and len(r.checksum) == 32
                   for r in rows.values())

    def test_registered_decoder_overrides_default(self, spark, docs):
        M.register_decoder("image", lambda payload, fmt: {
            "feature": f"real:{fmt}:{len(payload)}"})
        try:
            media = M.attach_media(docs).filter(F.col("modality") == "image")
            row = M.extract_features(media).limit(1).collect()[0]
            assert row.feature.startswith("real:ppm:")
        finally:
            M._DECODERS.clear()

    def test_real_ppm_decode_through_spark(self, spark, docs):
        """Image rows carry genuine binary-PPM bytes and the REAL
        parser extracts dimensions / pixel stats from them — checked
        against an independent recomputation from the fixture id."""
        import hashlib
        import math

        media = M.attach_media(docs).filter(F.col("modality") == "image")
        row = M.extract_features(media).filter(
            F.col("media_id") == 3).collect()[0]
        w, h = 4 + 3 % 13, 3 + 3 % 7        # doc_id = 3
        px = M._image_pixels(3).reshape(-1).astype("int64")
        assert row.feature == f"ppm:{w}x{h}"
        assert row.n_bytes == len(f"P6\n{w} {h}\n255\n") + 3 * w * h
        mean = int(px.sum()) / px.size
        assert row.metric == math.floor(mean * 1e6 + 0.5) / 1e6
        content = ",".join(str(int(v)) for v in px)
        assert row.checksum == hashlib.md5(content.encode()).hexdigest()

    def test_decode_ppm_rejects_corruption(self):
        """Every corruption class fails loudly, never fakes a
        feature."""
        good = M.make_ppm(M._image_pixels(6))
        cases = {
            "bad magic": b"P5" + good[2:],
            "truncated raster": good[:-2],
            "extra raster bytes": good + b"\x00",
            "maxval too wide": good.replace(b"255\n", b"65535\n", 1),
            "zero width": good.replace(b"10 ", b"0 ", 1),
            "non-numeric dims": b"P6\nab 3\n255\n" + good[11:],
            "header eof": b"P6\n10 ",
        }
        for name, payload in cases.items():
            with pytest.raises(ValueError):
                M.decode_ppm(payload)

    def test_decode_ppm_comment_and_roundtrip(self):
        """Netpbm comments in the header parse; decode inverts
        make_ppm."""
        px = M._image_pixels(9)
        h, w, _ = px.shape
        body = px.tobytes()
        with_comment = (b"P6\n# generated fixture\n"
                        + f"{w} {h}\n255\n".encode() + body)
        d = M.decode_ppm(with_comment)
        assert d["feature"] == f"ppm:{w}x{h}"
        assert d == M.decode_ppm(M.make_ppm(px))
        # '#' directly after a digit token terminates it, and a
        # comment may end at CR as well as LF (Netpbm allows either)
        variants = [
            b"P6\n" + f"{w} {h}\n".encode() + b"255# c\n" + body,
            b"P6\n# cr comment\r" + f"{w} {h}\n255\n".encode() + body,
            b"P6\n" + f"{w}# mid\n {h}\n255\n".encode() + body,
        ]
        for payload in variants:
            assert M.decode_ppm(payload) == d

    def test_real_wav_decode_through_spark(self, spark, docs):
        """Audio rows carry genuine RIFF/WAVE bytes and the REAL
        parser extracts rate / sample count / RMS from them — checked
        against an independent recomputation from the fixture text."""
        import hashlib
        import math

        media = M.attach_media(docs).filter(F.col("modality") == "audio")
        row = M.extract_features(media).filter(
            F.col("media_id") == 1).collect()[0]
        src = docs.filter(F.col("doc_id") == 1).collect()[0]
        n = len(src.text)
        samples = M._wave_samples(1, n).astype("int64")
        assert row.feature == f"wav:{M.WAV_RATE}:{n}"
        assert row.n_bytes == 44 + 2 * n
        rms = math.sqrt(int((samples * samples).sum()) / n)
        assert row.metric == math.floor(rms * 1e6 + 0.5) / 1e6
        content = ",".join(str(int(s)) for s in samples)
        assert row.checksum == hashlib.md5(content.encode()).hexdigest()

    def test_decode_wav_rejects_corruption(self):
        """Every corruption class fails loudly, never fakes a
        feature."""
        good = M.make_wav(M._wave_samples(3, 8))
        cases = {
            "bad magic": b"JUNK" + good[4:],
            "bad wave tag": good[:8] + b"EVAW" + good[12:],
            "truncated": good[:-4],
            "overrun chunk": good[:40] + b"\xff\xff\xff\xff" + good[44:],
            "not 16-bit": good[:34] + b"\x08\x00" + good[36:],
            "too short": b"RIFF",
        }
        for name, payload in cases.items():
            with pytest.raises(ValueError):
                M.decode_wav(payload)

    def test_real_avi_decode_through_spark(self, spark, docs):
        """Video rows carry genuine RIFF/AVI bytes (uncompressed DIB
        frames) and the REAL parser extracts dimensions / frame count
        / pixel stats — checked against an independent recomputation
        from the fixture id."""
        import hashlib
        import math

        media = M.attach_media(docs).filter(F.col("modality") == "video")
        row = M.extract_features(media).filter(
            F.col("media_id") == 5).collect()[0]
        w, h, n = 4 + 5 % 5, 2 + 5 % 3, 2 + 5 % 4   # doc_id = 5
        fx = M._video_pixels(5)
        assert fx.shape == (n, h, w, 3)
        px = fx.reshape(-1).astype("int64")
        assert row.feature == f"avi:{w}x{h}:{n}@{M.AVI_FPS}"
        stride = M._avi_stride(w)
        assert row.n_bytes == M._AVI_FIXED + n * (8 + stride * h)
        mean = int(px.sum()) / px.size
        assert row.metric == math.floor(mean * 1e6 + 0.5) / 1e6
        content = ",".join(str(int(v)) for v in px)
        assert row.checksum == hashlib.md5(content.encode()).hexdigest()

    def test_decode_avi_rejects_corruption(self):
        """Every corruption class fails loudly, never fakes a
        feature."""
        import struct

        good = M.make_avi(M._video_pixels(8))

        def patched(offset, new):
            b = bytearray(good)
            b[offset:offset + len(new)] = new
            return bytes(b)

        strf_body = good.index(b"strf") + 8
        cases = {
            "bad magic": b"JUNK" + good[4:],
            "bad form tag": patched(8, b"WAVE"),
            "truncated": good[:-4],
            "riff size lie": patched(4, struct.pack("<I", len(good))),
            "compressed frame": good.replace(b"00db", b"00dc", 1),
            "bit depth": patched(strf_body + 14, struct.pack("<H", 32)),
            "compression": patched(strf_body + 16, struct.pack("<I", 1)),
            "dim mismatch": patched(strf_body + 4, struct.pack("<i", 99)),
            "frame count lie": patched(good.index(b"avih") + 8 + 16,
                                       struct.pack("<I", 7)),
            "too short": b"RIFF",
        }
        for name, payload in cases.items():
            with pytest.raises(ValueError):
                M.decode_avi(payload)

    def test_decode_avi_canonicalization_roundtrip(self):
        """decode inverts make_avi, and the canonical content is
        container-invariant: the decoder undoes bottom-up row order,
        BGR byte order and 4-byte stride padding, so content/checksum
        depend only on the pixels — including widths where the DIB
        stride actually pads (3*w not divisible by 4)."""
        for doc_id in (2, 5, 8, 11):    # widths 6,4,7,5 → strides 20,12,24,16
            fx = M._video_pixels(doc_id)
            d = M.decode_avi(M.make_avi(fx))
            px = fx.reshape(-1)
            assert d["content"] == ",".join(str(int(v)) for v in px)
        # a doubled-fps re-containering keeps the canonical content
        fx = M._video_pixels(5)
        assert M.decode_avi(M.make_avi(fx, fps=20))["content"] \
            == M.decode_avi(M.make_avi(fx, fps=10))["content"]

    def test_corrupt_payload_fails_spark_task(self, spark):
        from pyspark.sql import Row

        bad = spark.createDataFrame(
            [Row(media_id=1, modality="audio", format="wav",
                 payload=b"garbage-not-a-wav", meta=None)],
            schema=M.MEDIA_SCHEMA)
        with pytest.raises(Exception, match="RIFF|WAVE"):
            M.extract_features(bad).collect()
        badv = spark.createDataFrame(
            [Row(media_id=2, modality="video", format="avi",
                 payload=b"garbage-not-an-avi", meta=None)],
            schema=M.MEDIA_SCHEMA)
        with pytest.raises(Exception, match="RIFF|AVI"):
            M.extract_features(badv).collect()

    def test_frame_sample_plan(self, spark, docs):
        media = M.attach_media(docs)
        plan = M.frame_sample_plan(media, every_ms=1000)
        joined = plan.groupBy("media_id").agg(
            F.count(F.lit(1)).alias("n_frames"),
            F.max("frame_ts_ms").alias("last_ts"))
        bad = joined.filter(
            F.col("last_ts") != (F.col("n_frames") - 1) * 1000).count()
        assert bad == 0 and joined.count() > 0


class TestIVF:
    def test_recall_vs_exact(self, spark):
        """IVF with 4/16 probes must recover a solid share of the true
        top-5 (brute force) — and perfect recall when probing ALL
        lists (then it IS exhaustive search, just cluster-ordered)."""
        emb = read_table(spark, SF_SMALL, "embeddings") \
            .select("vec_id", "embedding")
        queries = emb.filter(F.col("vec_id") < 10)
        exact = {(r.query_id, r.neighbor_id)
                 for r in S.cosine_topk(emb, queries, k=5).collect()}

        ivf = {(r.query_id, r.neighbor_id)
               for r in S.ivf_topk(emb, queries, k=5, n_centroids=16,
                                   n_probe=4).collect()}
        assert len(ivf & exact) / len(exact) >= 0.5

        full = {(r.query_id, r.neighbor_id)
                for r in S.ivf_topk(emb, queries, k=5, n_centroids=16,
                                    n_probe=16).collect()}
        assert full == exact

    def test_kmeans_quantizer_partition_independent(self, spark):
        """The sampled-k-means quantizer must produce bit-identical
        centroids regardless of the input's partition layout (the
        sample is content-addressed via xxhash64, not partition
        order) — a retried stage or different cluster size can't
        change the index."""
        import numpy as np

        emb = read_table(spark, SF_SMALL, "embeddings") \
            .select("vec_id", "embedding")
        c1 = S.sampled_kmeans_centroids(emb, 8)
        c2 = S.sampled_kmeans_centroids(emb.repartition(7), 8)
        assert np.array_equal(c1, c2)
        assert c1.shape == (8, 64)


class TestPQ:
    def test_recall_vs_exact_and_code_width(self, spark):
        """PQ with 8 subspaces × 16 codes + top-100 ADC rerank must
        recover most of the true top-5; reranking the FULL corpus by
        ADC (n_cand = corpus size) must equal exhaustive search —
        then PQ only reorders the scan, the exact rerank decides."""
        emb = read_table(spark, SF_SMALL, "embeddings") \
            .select("vec_id", "embedding")
        queries = emb.filter(F.col("vec_id") < 10)
        exact = {(r.query_id, r.neighbor_id)
                 for r in S.cosine_topk(emb, queries, k=5).collect()}

        pq = {(r.query_id, r.neighbor_id)
              for r in S.pq_topk(emb, queries, k=5, n_cand=100).collect()}
        assert len(pq & exact) / len(exact) >= 0.7

        n = emb.count()
        full = {(r.query_id, r.neighbor_id)
                for r in S.pq_topk(emb, queries, k=5, n_cand=n).collect()}
        assert full == exact

    def test_codebooks_deterministic_and_codes_bounded(self, spark):
        """Codebooks are partition-independent (content-addressed
        sample, integer-exact Lloyd), and every emitted code indexes
        a real codebook entry (the one-byte-per-subspace contract
        the 32x scan-size claim rests on)."""
        import numpy as np

        emb = read_table(spark, SF_SMALL, "embeddings") \
            .select("vec_id", "embedding")
        b1 = S.pq_codebooks(emb, n_sub=8, n_centroids=16)
        b2 = S.pq_codebooks(emb.repartition(13), n_sub=8, n_centroids=16)
        assert b1.shape == (8, 16, 8)
        assert np.array_equal(b1, b2)

        codes = S.pq_topk(emb, emb.filter(F.col("vec_id") < 3), k=3)
        assert codes.count() == 9   # 3 queries x top-3


class TestRendezvous:
    def test_deterministic_and_covering(self, spark):
        from gasket_spark.operators.packing import rendezvous_assign

        df = spark.range(0, 500).withColumnRenamed("id", "k")
        a = {r.k: r.shard
             for r in rendezvous_assign(df, "k", 8).collect()}
        b = {r.k: r.shard
             for r in rendezvous_assign(
                 df.repartition(13), "k", 8).collect()}
        assert a == b                       # partition-independent
        assert set(a.values()) == set(range(8))
        # no shard starved or hogging (expected 62.5/shard)
        from collections import Counter
        counts = Counter(a.values())
        assert min(counts.values()) > 20 and max(counts.values()) < 120

    def test_minimal_movement_on_grow(self, spark):
        """The property that justifies HRW over mod-hashing: growing
        10 → 11 shards moves ~1/11 of keys (and every moved key moves
        TO the new shard); mod-hashing would move ~10/11."""
        from gasket_spark.operators.packing import rendezvous_assign

        df = spark.range(0, 2000).withColumnRenamed("id", "k")
        s10 = {r.k: r.shard
               for r in rendezvous_assign(df, "k", 10).collect()}
        s11 = {r.k: r.shard
               for r in rendezvous_assign(df, "k", 11).collect()}
        moved = {k for k in s10 if s10[k] != s11[k]}
        assert all(s11[k] == 10 for k in moved)   # only into the new one
        frac = len(moved) / 2000
        assert 0.04 < frac < 0.16, frac           # E = 1/11 ≈ 0.091
        mod_moved = sum(1 for k in s10 if k % 10 != k % 11) / 2000
        assert mod_moved > 0.85                   # the contrast

    def test_cross_engine_argmax_matches_duckdb(self, spark):
        """The assignment is pure md5-hex argmax, so ANSI SQL derives
        the identical shards — the r11 oracle shape, pinned early."""
        import duckdb

        from gasket_spark.operators.packing import rendezvous_assign

        df = spark.range(0, 300).withColumnRenamed("id", "k")
        got = {r.k: r.shard
               for r in rendezvous_assign(df, "k", 6).collect()}
        con = duckdb.connect()
        weights = " UNION ALL ".join(
            f"SELECT k, {s} AS shard, md5('k:' || CAST(k AS VARCHAR)"
            f" || ':{s}') AS w FROM range(0, 300) t(k)" for s in range(6))
        want = dict(con.execute(
            f"""SELECT k, CAST(shard AS INT) FROM ({weights}) w0
                QUALIFY row_number() OVER (
                  PARTITION BY k ORDER BY w DESC, shard DESC) = 1
                ORDER BY k""").fetchall())
        assert got == want


class TestKnnLabel:
    def _clustered(self, spark):
        import numpy as np

        rng = np.random.default_rng(7)
        rows = []
        vid = 0
        centers = {0: np.array([1.0, 0, 0, 0]),
                   1: np.array([0, 1.0, 0, 0]),
                   2: np.array([0, 0, 1.0, 0])}
        for lbl, c in centers.items():
            for _ in range(8):
                v = c + rng.normal(0, 0.02, 4)
                rows.append((vid, [float(x) for x in v], lbl))
                vid += 1
        # queries: one near each center, ids disjoint from corpus
        q = [(100 + lbl, [float(x) for x in c + 0.01], -1)
             for lbl, c in centers.items()]
        mk = lambda r: spark.createDataFrame(
            r, "vec_id long, embedding array<float>, label int")
        return mk(rows), mk(q)

    def test_labels_clusters_correctly(self, spark):
        corpus, queries = self._clustered(spark)
        got = {r.query_id: (r.pred_label, r.n_votes)
               for r in S.knn_label(corpus, queries, k=5).collect()}
        assert got == {100: (0, 5), 101: (1, 5), 102: (2, 5)}

    def test_vote_tie_breaks_to_smaller_label(self, spark):
        """k=2 with one neighbor from each of two labels → 1-1 tie →
        the smaller label wins, deterministically."""
        corpus = spark.createDataFrame(
            [(1, [1.0, 0.0], 7), (2, [0.9, 0.1], 3)],
            "vec_id long, embedding array<float>, label int")
        queries = spark.createDataFrame(
            [(100, [1.0, 0.05], -1)],
            "vec_id long, embedding array<float>, label int")
        got = S.knn_label(corpus, queries, k=2).collect()
        assert [(r.query_id, r.pred_label, r.n_votes)
                for r in got] == [(100, 3, 1)]

    def test_partition_invariant(self, spark):
        corpus, queries = self._clustered(spark)
        a = sorted(map(tuple, S.knn_label(corpus, queries, k=3)
                       .collect()))
        b = sorted(map(tuple, S.knn_label(corpus.repartition(13),
                                          queries.repartition(2), k=3)
                       .collect()))
        assert a == b

    def test_id_collision_does_not_hide_neighbors(self, spark):
        """Cross-split id spaces are independent: a query whose
        numeric id collides with a corpus id must still see that
        corpus vector as a neighbor (cosine_topk's self-exclusion is
        for queries drawn FROM the corpus, so knn_label turns it
        off)."""
        corpus = spark.createDataFrame(
            [(7, [1.0, 0.0], 4), (8, [0.95, 0.05], 4)],
            "vec_id long, embedding array<float>, label int")
        # query id 7 collides with the nearest corpus vector's id
        queries = spark.createDataFrame(
            [(7, [1.0, 0.01], -1)],
            "vec_id long, embedding array<float>, label int")
        got = S.knn_label(corpus, queries, k=2).collect()
        assert [(r.query_id, r.pred_label, r.n_votes)
                for r in got] == [(7, 4, 2)]   # BOTH neighbors voted


class TestPacking:
    def test_prefix_sum_invariant_to_partitioning(self, spark, docs):
        """The two-phase distributed prefix sum must produce identical
        shard assignments for ANY partition count — and equal the
        naive single-window reference."""
        from pyspark.sql import Window

        from gasket_spark.functions import text as T
        from gasket_spark.operators.packing import pack_shards

        toks = docs.select(
            "doc_id", T.token_count("text").cast("bigint").alias("n"))
        w = (Window.orderBy("doc_id")
             .rowsBetween(Window.unboundedPreceding, -1))
        naive = toks.withColumn(
            "cum_before", F.coalesce(F.sum("n").over(w), F.lit(0)))
        want = sorted((r.doc_id, r.cum_before) for r in naive.collect())

        for n_parts in (1, 3, 16):
            got = pack_shards(toks, "n", "doc_id", 5000,
                              n_partitions=n_parts)
            assert sorted((r.doc_id, r.cum_before)
                          for r in got.collect()) == want

    def test_global_row_number_matches_window(self, spark, docs):
        """Distributed row_number == the naive single-partition window
        for any input partitioning, including a descending+tiebreak
        order (the vocab-id shape)."""
        from pyspark.sql import Window

        from gasket_spark.functions import text as T
        from gasket_spark.operators.packing import global_row_number

        toks = docs.select(
            "doc_id", T.token_count("text").cast("bigint").alias("n"))
        order = [F.col("n").desc(), F.col("doc_id").asc()]
        naive = toks.withColumn("rn", F.row_number().over(
            Window.orderBy(*order)))
        want = sorted((r.doc_id, r.rn) for r in naive.collect())
        for n_parts in (1, 3, 16):
            got = global_row_number(toks.repartition(n_parts), order)
            assert sorted((r.doc_id, r.rn)
                          for r in got.collect()) == want

    def test_shard_manifest_roundtrip_and_tamper_detection(
            self, spark, docs, tmp_path):
        """The reproducibility contract: write shards + manifest,
        verify clean; rewrite ONE shard's content and verify flags
        exactly that shard; a tampered manifest raises instead of
        vacuously verifying. Fingerprints are order/partition-
        independent, so a repartitioned identical write verifies."""
        import json

        from gasket_spark.functions import text as T
        from gasket_spark.operators.packing import (
            pack_shards, verify_shards, write_shards_with_manifest)

        toks = docs.select(
            "doc_id", "text",
            T.token_count("text").cast("bigint").alias("n"))
        packed = pack_shards(toks, "n", "doc_id", 5000) \
            .select("doc_id", "text", "n", "shard_id")
        path = str(tmp_path / "shards")
        manifest = write_shards_with_manifest(packed, path)
        assert len(manifest["shards"]) > 1
        assert verify_shards(spark, path) == []

        # an identical but differently-partitioned write verifies too
        path2 = str(tmp_path / "shards2")
        write_shards_with_manifest(packed.repartition(7), path2)
        assert verify_shards(spark, path2) == []

        # tamper one shard: drop a row and rewrite its directory
        # (materialize BEFORE overwriting — a lazy read of the same
        # path would delete its own input mid-write)
        victim = sorted(int(k) for k in manifest["shards"])[0]
        sub = spark.read.parquet(path).filter(
            F.col("shard_id") == victim).drop("shard_id")
        rows = sub.collect()
        keep = spark.createDataFrame(rows[1:], sub.schema)
        keep.coalesce(1).write.mode("overwrite").parquet(
            f"{path}/shard_id={victim}")
        assert verify_shards(spark, path) == [victim]

        # manifest tamper → loud failure
        mp = f"{path2}/_shard_manifest.json"
        m = json.load(open(mp))
        m["shards"][next(iter(m["shards"]))]["n_rows"] += 1
        json.dump(m, open(mp, "w"), sort_keys=True)
        with pytest.raises(ValueError, match="checksum"):
            verify_shards(spark, path2)

    def test_manifest_describes_on_disk_bytes_not_plan(
            self, spark, tmp_path):
        """A NONDETERMINISTIC upstream plan (every re-execution yields
        different rows) must still produce a manifest that verifies
        clean: fingerprints are taken from a read-back of the written
        files, never from a separate pre-write action whose
        re-execution could certify content that was never written
        (r9 advice — phantom corruption / wrong baseline)."""
        from pyspark.sql.types import LongType

        from gasket_spark.operators.packing import (
            verify_shards, write_shards_with_manifest)

        calls = {"n": 0}

        def _bump(v):
            calls["n"] += 1
            return calls["n"] * 1_000_000 + v

        bump = F.udf(_bump, LongType()).asNondeterministic()
        df = spark.range(200).coalesce(1).select(
            (F.col("id") % 4).alias("shard_id"),
            bump(F.col("id")).alias("payload"))
        path = str(tmp_path / "nd_shards")
        manifest = write_shards_with_manifest(df, path)
        assert len(manifest["shards"]) == 4
        # the written bytes ARE what the manifest certifies, even
        # though a second execution of `df` would differ
        assert verify_shards(spark, path) == []


class TestIncrementalDedup:
    def test_new_batch_matches_corpus_only(self, spark, docs):
        toks = F.split("text", " ")
        new_batch = docs.select(
            (F.col("doc_id") + 100000).alias("doc_id"),
            F.concat_ws(" ", F.slice(toks, 1, F.size(toks) - 1))
            .alias("text"))
        pairs = D.incremental_minhash_pairs(new_batch, docs, threshold=0.5)
        rows = pairs.collect()
        n_docs = docs.count()
        # every pair is new-side x corpus-side by construction
        assert all(r.new_id >= 100000 and r.corpus_id < 100000
                   for r in rows)
        # ~every planted twin is found against its original
        twins = sum(1 for r in rows if r.new_id == r.corpus_id + 100000)
        assert twins >= 0.95 * n_docs


class TestConnectedComponents:
    def test_chain_and_islands(self, spark):
        """Chains collapse to min-id components; isolated nodes keep
        their own id; multiple components stay separate."""
        from gasket_spark.operators.graph import connected_components

        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4),      # chain 1-2-3-4
             (10, 11),                    # pair
             (20, 22), (21, 22)],         # vee
            "id_a long, id_b long")
        got = {(r.v, r.component_id)
               for r in connected_components(pairs).collect()}
        assert got == {(1, 1), (2, 1), (3, 1), (4, 1),
                       (10, 10), (11, 10),
                       (20, 20), (21, 20), (22, 20)}

    def test_dedup_by_components_keeps_one_per_cluster(self, spark):
        from gasket_spark.operators.graph import dedup_by_components

        docs = spark.createDataFrame(
            [(i, f"doc {i}") for i in (1, 2, 3, 7, 10, 11)],
            "doc_id long, text string")
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], "id_a long, id_b long")
        kept = sorted(r.doc_id
                      for r in dedup_by_components(docs, pairs).collect())
        # one survivor per cluster {1,2,3} and {10,11}; isolated 7 stays
        assert kept == [1, 7, 10]


class TestHotShingleCap:
    def test_max_doc_freq_drops_common_shingles(self, spark):
        """The df-cap skew guard: shingles shared by more than
        max_doc_freq docs carry no signal and are excluded before the
        inverted-index / band join — in both hashed and string modes."""
        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w v u")],
            "doc_id long, text string")
        # docs 1,2 share shingles; cap=1 removes them -> no pairs
        assert D.minhash_lsh_pairs(df, threshold=0.1,
                                   max_doc_freq=1).count() == 0
        assert D.ngram_jaccard_pairs(df, threshold=0.1,
                                     max_doc_freq=1).count() == 0
        # default caps (minhash: uncapped; ngram: 256) leave rare
        # shingles intact — the pair is found by both
        assert D.minhash_lsh_pairs(df, threshold=0.1).count() == 1
        assert D.ngram_jaccard_pairs(df, threshold=0.1).count() == 1

    def test_ngram_default_cap_engaged(self, spark):
        """ngram_jaccard_pairs defaults to the skew-safe posture: a
        shingle shared by more docs than the default cap (256) is
        dropped from the inverted index, so a boilerplate-only corpus
        yields no pairs unless the caller opts out with None."""
        df = spark.createDataFrame(
            [(i, "common boilerplate shingle") for i in range(300)],
            "doc_id long, text string")
        assert D.ngram_jaccard_pairs(df, threshold=0.1).count() == 0
        assert D.ngram_jaccard_pairs(df, threshold=0.1,
                                     max_doc_freq=None).count() > 0


class TestContainment:
    def test_quote_embedding_detected_jaccard_blind(self, spark):
        """The operator's reason to exist: a short doc quoted WHOLE
        inside a much longer one is perfect containment (every
        A-shingle in B) while the symmetric Jaccard is far below any
        practical near-dup threshold."""
        short = "alpha beta gamma delta epsilon zeta"
        filler = " ".join(f"w{i}" for i in range(60))
        df = spark.createDataFrame(
            [(1, short), (2, filler + " " + short + " " + filler)],
            "doc_id long, text string")
        got = D.containment_pairs(df, threshold_num=1, threshold_den=1)
        rows = got.collect()
        assert [(r.contained_id, r.container_id) for r in rows] == [(1, 2)]
        # Jaccard over the same shingle space misses it entirely
        assert D.ngram_jaccard_pairs(df, threshold=0.3).count() == 0

    def test_matches_brute_force_both_directions(self, spark):
        """Exactness: the directed pair set equals a Python-set brute
        force over every ordered pair, at a rational threshold that
        exercises the integer cross-multiply boundary."""
        texts = {
            1: "a b c d e f g h",
            2: "a b c d e f g h i j k l",     # contains most of 1
            3: "a b c d x y z w",             # partial overlap with 1
            4: "p q r s t u v",               # unrelated
            5: "a b c d e f g h",             # exact twin of 1
        }
        df = spark.createDataFrame(list(texts.items()),
                                   "doc_id long, text string")

        def sh(t):
            w = t.split(" ")
            return {tuple(w[i:i + 3]) for i in range(len(w) - 2)}

        want = set()
        for ia, ta in texts.items():
            for ib, tb in texts.items():
                if ia == ib:
                    continue
                a, b = sh(ta), sh(tb)
                if len(a & b) * 3 >= 2 * len(a):   # ≥ 2/3 of A in B
                    want.add((ia, ib))
        got = {(r.contained_id, r.container_id)
               for r in D.containment_pairs(
                   df, threshold_num=2, threshold_den=3).collect()}
        assert got == want and (1, 2) in got and (2, 1) not in got

    def test_df_cap_guards_fanout(self, spark):
        """Same skew posture as ngram_jaccard_pairs: boilerplate
        shingles above the cap are excluded before the self-join."""
        df = spark.createDataFrame(
            [(i, "common boilerplate shingle text here") for i in range(300)],
            "doc_id long, text string")
        assert D.containment_pairs(df).count() == 0
        assert D.containment_pairs(df, max_doc_freq=None).count() > 0

    def test_cap_is_conservative_not_inflating(self, spark):
        """|A| must be the PRE-cap shingle count: a doc that is
        mostly boilerplate (hot shingles dropped by the cap) with a
        tiny rare overlap must NOT fire the threshold — a post-cap
        denominator would read 5-of-5 and emit a spurious pair."""
        boiler = " ".join(f"b{i % 4}" for i in range(40))   # hot
        rare_a = "ra1 ra2 ra3 ra4 ra5 ra6 ra7"
        df = spark.createDataFrame(
            [(i, boiler) for i in range(1, 20)]             # heat it
            + [(100, f"{boiler} {rare_a}"),                  # A
               (200, f"{rare_a} unrelated tail words here")],  # B
            "doc_id long, text string")
        got = D.containment_pairs(df, threshold_num=9,
                                  threshold_den=10, max_doc_freq=10)
        pairs = {(r.contained_id, r.container_id) for r in got.collect()}
        # A's true containment in B is tiny (rare_a is a sliver of A):
        # no (100, 200) pair may appear...
        assert (100, 200) not in pairs
        # ...while B — whose content really is mostly rare_a — may
        # legitimately read as contained in A.
        assert pairs <= {(200, 100)}


class TestDuplicateSpans:
    def test_copied_passage_merges_to_one_maximal_span(self, spark):
        """A 30-token passage copied verbatim at different offsets
        must come back as ONE (start_a, start_b, 30) row — 21
        window matches merged on the alignment diagonal — not 21
        rows."""
        passage = " ".join(f"p{i}" for i in range(30))
        pre_a = " ".join(f"a{i}" for i in range(7))
        pre_b = " ".join(f"b{i}" for i in range(13))
        tail = " ".join(f"t{i}" for i in range(10))
        df = spark.createDataFrame(
            [(1, f"{pre_a} {passage} {tail}"),
             (2, f"{pre_b} {passage}")],
            "doc_id long, text string")
        rows = D.duplicate_spans(df, w=10).collect()
        assert len(rows) == 1
        r = rows[0]
        assert (r.doc_a, r.doc_b, r.start_a, r.start_b,
                r.span_tokens) == (1, 2, 8, 14, 30)

    def test_matches_brute_force_spans(self, spark):
        """Span set equals a Python brute force (string w-grams,
        runs merged per diagonal) on a corpus with overlapping and
        repeated structure."""
        texts = {
            1: "x1 x2 c1 c2 c3 c4 c5 x3 d1 d2 d3 d4",
            2: "y1 c1 c2 c3 c4 c5 y2 y3 d1 d2 d3 d4",
            3: "z1 z2 z3 z4 z5 z6 z7 z8 z9 z10 z11 z12",
        }
        w = 3
        df = spark.createDataFrame(list(texts.items()),
                                   "doc_id long, text string")

        def spans(ta, tb):
            wa, wb = ta.split(" "), tb.split(" ")
            m = {(i + 1, j + 1)
                 for i in range(len(wa) - w + 1)
                 for j in range(len(wb) - w + 1)
                 if wa[i:i + w] == wb[j:j + w]}
            out = set()
            for (i, j) in m:
                if (i - 1, j - 1) in m:
                    continue            # not a run head
                n = 0
                while (i + n, j + n) in m:
                    n += 1
                out.add((i, j, n + w - 1))
            return out

        want = {(a, b, i, j, n)
                for a in texts for b in texts if a < b
                for (i, j, n) in spans(texts[a], texts[b])}
        got = {(r.doc_a, r.doc_b, r.start_a, r.start_b, r.span_tokens)
               for r in D.duplicate_spans(df, w=w).collect()}
        assert got == want and len(got) >= 2

    def test_df_cap_guards_boilerplate_windows(self, spark):
        df = spark.createDataFrame(
            [(i, "the same boilerplate header text always")
             for i in range(300)],
            "doc_id long, text string")
        assert D.duplicate_spans(df, w=4).count() == 0
        assert D.duplicate_spans(df, w=4, max_doc_freq=None).count() > 0


class TestWinnowing:
    def test_guarantee_shared_passage_shares_fingerprint(self, spark):
        """The winnowing theorem: a verbatim shared passage of
        >= window + k - 1 tokens (here 4 + 5 - 1 = 8) must put at
        least one identical fingerprint in both documents — for
        every offset the passage appears at."""
        passage = " ".join(f"p{i}" for i in range(8))
        cases = []
        for off in range(6):
            pre = " ".join(f"a{j}" for j in range(off))
            post = " ".join(f"z{j}" for j in range(5))
            cases.append((100 + off, f"{pre} {passage} {post}".strip()))
        cases.append((1, passage))
        df = spark.createDataFrame(cases, "doc_id long, text string")
        fps = D.winnow_fingerprints(df, k=5, window=4).collect()
        by_doc = {}
        for r in fps:
            by_doc.setdefault(r.doc_id, set()).add(r.fp)
        base = by_doc[1]
        for off in range(6):
            assert by_doc[100 + off] & base, f"offset {off} lost the passage"

    def test_matches_python_reference(self, spark):
        """Fingerprint sets equal a direct Python winnow (min per
        sliding window over the same gram hash sequence, distinct) —
        pinned via the relative structure: docs with disjoint token
        sets share nothing, a doc shares everything with itself."""
        texts = {1: " ".join(f"w{i}" for i in range(20)),
                 2: " ".join(f"w{i}" for i in range(20)),   # twin
                 3: " ".join(f"u{i}" for i in range(20))}   # disjoint
        df = spark.createDataFrame(list(texts.items()),
                                   "doc_id long, text string")
        by_doc = {}
        for r in D.winnow_fingerprints(df, k=3, window=4).collect():
            by_doc.setdefault(r.doc_id, set()).add(r.fp)
        assert by_doc[1] == by_doc[2]
        assert not (by_doc[1] & by_doc[3])
        # sampling really happened: fewer fingerprints than grams
        assert 0 < len(by_doc[1]) < 18

    def test_short_docs(self, spark):
        """>=k tokens but fewer than window grams still fingerprint
        (single whole-array window); sub-k docs emit nothing."""
        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b")],
            "doc_id long, text string")
        got = D.winnow_fingerprints(df, k=5, window=4).collect()
        assert [r.doc_id for r in got] == [1] and len(got) == 1


class TestPrefixFilter:
    def test_prefix_pairs_equal_uncapped_exact(self, spark):
        """Prefix filtering is a LOSSLESS candidate filter: over the
        same hashed shingle space, its pair set must equal the
        uncapped inverted-index exact Jaccard join, pair for pair."""
        docs = read_table(spark, SF_SMALL, "documents") \
            .select("doc_id", "text")
        want = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in
                D.ngram_jaccard_pairs(docs, threshold=0.5,
                                      max_doc_freq=None).collect()}
        got = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in
               D.prefix_filter_pairs(docs, threshold=0.5).collect()}
        assert got == want

    def test_prefix_lossless_for_inexact_thresholds(self, spark):
        """The r13 self-review counterexample, pinned: at t=0.55 a
        100-shingle doc with a 55-shingle subset doc has J = 55/100 =
        0.55 — the float form ceil(lit(0.55)·100) evaluated to 56 and
        the size band dropped the pair the verify compare keeps. The
        exact-ratio arithmetic (p_num/p_den = the double, decimal-
        widened, one unit of slack) must keep it, for EVERY common
        threshold — checked against the uncapped inverted-index join,
        pair for pair."""
        toks = [f"w{i:03d}" for i in range(102)]
        rows = [(1, " ".join(toks)),          # 100 distinct 3-shingles
                (2, " ".join(toks[:57])),     # 55 shingles, all shared
                (3, " ".join(toks[40:102])),  # 60 shingles, partial
                (4, " ".join(reversed(toks[:30])))]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        for t in (0.5, 0.55, 0.65, 0.8, 0.85):
            want = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in
                    D.ngram_jaccard_pairs(df, threshold=t,
                                          max_doc_freq=None).collect()}
            got = {(r.id_a, r.id_b, round(r.jaccard, 9)) for r in
                   D.prefix_filter_pairs(df, threshold=t).collect()}
            assert got == want, f"threshold {t}: {got ^ want}"
        # the headline case really is in the t=0.55 output
        pairs55 = {(r.id_a, r.id_b) for r in
                   D.prefix_filter_pairs(df, threshold=0.55).collect()}
        assert (1, 2) in pairs55

    def test_prefix_skips_boilerplate_shingles(self, spark):
        """High-df shingles sort to the back of every doc's canonical
        order, so a corpus of identical boilerplate still joins ONLY
        through each doc's bounded prefix — and the true duplicate
        pairs are all found (J = 1.0 here, prefix can't lose them)."""
        df = spark.createDataFrame(
            [(i, "common boilerplate shingle text here") for i in range(6)],
            "doc_id long, text string")
        pairs = D.prefix_filter_pairs(df, threshold=0.5)
        assert pairs.count() == 15  # C(6,2), all J=1.0
        assert pairs.filter(F.col("jaccard") < 1.0).count() == 0

    def test_prefix_releases_shingle_persist(self, spark):
        """The corpus-sized shingle frame must NOT stay resident after
        the build: only the (eagerly checkpointed) pair result may add
        a persistent RDD — repeated calls in a long-lived session
        previously accumulated one shingle cache per invocation."""
        df = spark.createDataFrame(
            [(i, f"alpha beta gamma delta epsilon {i}") for i in range(8)],
            "doc_id long, text string")
        jsc = spark.sparkContext._jsc

        def persistent_ids():
            return set(dict(jsc.getPersistentRDDs()))

        base = persistent_ids()
        out = D.prefix_filter_pairs(df, threshold=0.5)
        new = persistent_ids() - base
        # exactly the result checkpoint — the shingle persist is gone
        # (set-diff, so the async ContextCleaner collecting an OLDER
        # test's dead RDD between snapshots can't perturb this)
        assert len(new) == 1
        # every doc pair shares 3 of 4 shingles: J = 3/5 >= 0.5, so
        # all C(8,2) pairs survive — and the result stays consumable
        # after the shingle unpersist (it was checkpointed eagerly)
        assert out.count() == 28
        # free_checkpoint releases exactly the tracked ids (other
        # sessions'/fixtures' cached frames untouched)
        from gasket_spark.io import free_checkpoint
        free_checkpoint(spark, new)
        after = persistent_ids()
        assert not (new & after)   # tracked ids released
        assert after <= base       # nothing beyond them was added

    def test_prefix_tracked_returns_freeable_ids(self, spark):
        """prefix_filter_pairs_tracked hands back the checkpoint's
        persistent-RDD ids; free_checkpoint on exactly those ids
        releases the pair result (the eviction path the
        q_dedup_prefix stamp cache relies on)."""
        df = spark.createDataFrame(
            [(i, f"alpha beta gamma delta epsilon {i}") for i in range(6)],
            "doc_id long, text string")
        jsc = spark.sparkContext._jsc
        out, ids = D.prefix_filter_pairs_tracked(df, threshold=0.5)
        assert ids and out.count() == 15
        live = set(dict(jsc.getPersistentRDDs()))
        assert set(ids) <= live
        from gasket_spark.io import free_checkpoint
        free_checkpoint(spark, ids)
        assert not (set(ids)
                    & set(dict(jsc.getPersistentRDDs())))


class TestTrackedPersistLifecycle:
    """r12 ADVICE closure: the mid-plan persist() frames of
    containment_pairs / edit_distance_pairs are handed back by the
    _tracked variants so a caching caller can unpersist on eviction,
    and the query-level stamp cache reuses ONE plan per (session,
    fixture) instead of stacking cached blocks per invocation."""

    def test_containment_tracked_intermediates_unpersist(self, spark):
        df = spark.createDataFrame(
            [(i, f"alpha beta gamma delta epsilon zeta {i}")
             for i in range(6)] + [(100, "alpha beta gamma delta")],
            "doc_id long, text string")
        out, cached = D.containment_pairs_tracked(
            df, n=3, threshold_num=9, threshold_den=10, max_doc_freq=32)
        assert len(cached) == 2     # inv0 + the capped index
        out.count()
        assert all(f.storageLevel.useMemory for f in cached)
        for f in cached:
            f.unpersist(False)
        assert not any(f.storageLevel.useMemory for f in cached)

    def test_edit_tracked_intermediates_unpersist(self, spark):
        df = spark.createDataFrame(
            [(1, "the quick brown fox"), (2, "the quick brown fix")],
            "doc_id long, text string")
        out, cached = D.edit_distance_pairs_tracked(df, d=2, q=2)
        # r13: the ranked gram table AND the narrow (id, text) lens
        # table (one persisted corpus feed for the gram explode, the
        # short bucket, and both verify text sides)
        assert len(cached) == 2
        assert out.count() == 1
        assert all(f.storageLevel.useMemory for f in cached)
        for f in cached:
            f.unpersist(False)
        assert not any(f.storageLevel.useMemory for f in cached)

    def test_query_stamp_cache_reuses_one_plan(self, spark):
        """Repeated q_dedup_containment invocations in one session
        must return the SAME lazy plan (no per-call persist pileup);
        the winnow query likewise."""
        from gasket_spark.queries import QUERIES

        sf = "/root/testdata/sf0.001"
        a = QUERIES["q_dedup_containment"](spark, sf)
        b = QUERIES["q_dedup_containment"](spark, sf)
        assert a is b
        w1 = QUERIES["q_fingerprint_winnow"](spark, sf)
        w2 = QUERIES["q_fingerprint_winnow"](spark, sf)
        assert w1 is w2


class TestLshDomainGuard:
    def test_oversized_embedding_raises_not_wraps(self, spark):
        """An embedding element beyond the |x| <= 16 int64-headroom
        bound must raise loudly — numpy would otherwise wrap the
        exact-int64 dot silently while the SQL oracle's HUGEINT
        keeps the true sign (a cross-engine bucket divergence)."""
        import pytest as _pytest

        from gasket_spark.operators.similarity import (
            _hyperplanes, lsh_bucket)

        planes = _hyperplanes(4, 4)
        ok = spark.createDataFrame([(1, [0.5, -0.5, 1.0, -1.0])],
                                   "vec_id long, embedding array<float>")
        ok.select(lsh_bucket(F.col("embedding"), planes)).collect()
        bad = spark.createDataFrame([(1, [40.0, 0.0, 0.0, 0.0])],
                                    "vec_id long, embedding array<float>")
        with _pytest.raises(Exception, match="overflow|exceeds"):
            bad.select(lsh_bucket(F.col("embedding"), planes)).collect()


class TestAdviceR11Guards:
    def test_hof_fallback_raises_on_oversized_embedding(self, spark):
        """The interpreted-HOF fallback must enforce the SAME
        |x| <= MAX_ABS_EMB domain bound as the vectorized kernel —
        a fallback that silently wraps where the hot path raises
        would flip buckets only when the fallback is in play."""
        import pytest as _pytest

        from gasket_spark.operators.similarity import (
            _hyperplanes, lsh_bucket_hof)

        planes = _hyperplanes(4, 4)
        ok = spark.createDataFrame([(1, [0.5, -0.5, 1.0, -1.0])],
                                   "vec_id long, embedding array<float>")
        ok_rows = ok.select(
            lsh_bucket_hof(F.col("embedding"), planes).alias("b")
        ).collect()
        assert len(ok_rows) == 1 and ok_rows[0].b is not None
        bad = spark.createDataFrame([(1, [40.0, 0.0, 0.0, 0.0])],
                                    "vec_id long, embedding array<float>")
        with _pytest.raises(Exception, match="overflow|exceeds"):
            bad.select(
                lsh_bucket_hof(F.col("embedding"), planes)).collect()

    def test_hof_and_kernel_agree_in_domain(self, spark):
        from gasket_spark.operators.similarity import (
            _hyperplanes, lsh_bucket, lsh_bucket_hof)

        planes = _hyperplanes(8, 6, seed=7)
        df = spark.createDataFrame(
            [(i, [((i * 31 + j * 7) % 33 - 16) / 4.0 for j in range(8)])
             for i in range(40)],
            "vec_id long, embedding array<float>")
        got = df.select(
            lsh_bucket(F.col("embedding"), planes).alias("a"),
            lsh_bucket_hof(F.col("embedding"), planes).alias("b"),
        ).collect()
        assert got and all(r.a == r.b for r in got)

    def test_rendezvous_null_key_gets_sentinel_shard(self, spark):
        """NULL keys must land on ONE deterministic shard via the
        explicit sentinel hash — not fall out of Spark-specific
        NULL-in-struct argmax ordering (engine-dependent and silent)."""
        import hashlib

        from gasket_spark.operators.packing import rendezvous_assign

        df = spark.createDataFrame(
            [(None,), (None,), (7,)], "k long")
        got = rendezvous_assign(df, "k", 8).collect()
        null_shards = {r.shard for r in got if r.k is None}
        assert len(null_shards) == 1
        want = max(range(8),
                   key=lambda s: hashlib.md5(
                       f"\x00null:{s}".encode()).hexdigest())
        assert null_shards == {want}

    def test_string_key_equal_to_sentinel_stays_distinct(self, spark):
        """A real STRING key whose value is literally '\\x00null' must
        hash in its own right ('k:'-prefixed domain), never alias the
        NULL sentinel — the r11 ADVICE catch on the cast-only
        sentinel."""
        import hashlib

        from gasket_spark.operators.packing import rendezvous_assign

        df = spark.createDataFrame([(None,), ("\x00null",)], "k string")
        got = {(r.k is None): r.shard
               for r in rendezvous_assign(df, "k", 8).collect()}
        null_want = max(range(8),
                        key=lambda s: hashlib.md5(
                            f"\x00null:{s}".encode()).hexdigest())
        str_want = max(range(8),
                       key=lambda s: hashlib.md5(
                           f"k:\x00null:{s}".encode()).hexdigest())
        assert got[True] == null_want
        assert got[False] == str_want

    def test_knn_label_null_label_loses_ties(self, spark):
        """A NULL corpus label must not defeat a real label on a vote
        tie (Spark's bare asc sorts NULL first; the operator pins
        asc_nulls_last, the ANSI order)."""
        from gasket_spark.operators.similarity import knn_label

        # two corpus vectors equidistant from the query: one labeled,
        # one NULL -> 1-1 tie at k=2, real label must win
        corpus = spark.createDataFrame(
            [(10, [1.0, 0.0], 3), (11, [0.0, 1.0], None)],
            "vec_id long, embedding array<float>, label int")
        queries = spark.createDataFrame(
            [(1, [1.0, 1.0])], "vec_id long, embedding array<float>")
        got = knn_label(corpus, queries, k=2).collect()
        assert len(got) == 1
        assert got[0].pred_label == 3 and got[0].n_votes == 1


class TestEditDistancePairs:
    def test_matches_brute_force(self, spark):
        """Blocking is provably lossless: output == all-pairs
        levenshtein <= d on a corpus with typo clusters, repeated hot
        grams, and unrelated docs."""
        import itertools

        from gasket_spark.operators.dedup import edit_distance_pairs

        texts = {
            1: "the quick brown fox jumps over the lazy dog",
            2: "the quick brown fox jumps over the lazy dot",   # d=1
            3: "the quick brown fox jump over the lazy dog",    # d=1
            4: "the quick brown fox jumps over a lazy dog",     # d=3
            5: "a completely unrelated sentence about spark",
            6: "a completely unrelated sentence about sparks",  # d=1 of 5
            7: "zq",
            8: "zr",                                            # d=1 of 7
            9: "the the the the the the the the the the",       # hot grams
        }
        df = spark.createDataFrame(list(texts.items()),
                                   "doc_id long, text string")
        d = 3
        got = {(r.id_a, r.id_b): r.edit_distance
               for r in edit_distance_pairs(df, d=d).collect()}

        def lev(a, b):
            prev = list(range(len(b) + 1))
            for i, ca in enumerate(a, 1):
                cur = [i]
                for j, cb in enumerate(b, 1):
                    cur.append(min(prev[j] + 1, cur[-1] + 1,
                                   prev[j - 1] + (ca != cb)))
                prev = cur
            return prev[-1]

        want = {}
        for x, y in itertools.combinations(sorted(texts), 2):
            dist = lev(texts[x], texts[y])
            if dist <= d:
                want[(x, y)] = dist
        assert got == want and want   # non-vacuous

    def test_partition_invariant(self, spark):
        from gasket_spark.operators.dedup import edit_distance_pairs

        rows = [(i, "prefix shared text body variant " + str(i % 7))
                for i in range(60)]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        one = sorted((r.id_a, r.id_b, r.edit_distance) for r in
                     edit_distance_pairs(df, d=2).collect())
        two = sorted((r.id_a, r.id_b, r.edit_distance) for r in
                     edit_distance_pairs(df.repartition(13), d=2)
                     .collect())
        assert one == two and one

    def test_short_docs_and_exact_dups(self, spark):
        """Docs shorter than the signature budget keep their whole
        gram set as the signature; exact duplicates report distance
        0."""
        from gasket_spark.operators.dedup import edit_distance_pairs

        df = spark.createDataFrame(
            [(1, "ab"), (2, "ab"), (3, "ad"), (4, "xy")],
            "doc_id long, text string")
        got = {(r.id_a, r.id_b): r.edit_distance
               for r in edit_distance_pairs(df, d=1).collect()}
        assert got == {(1, 2): 0, (1, 3): 1, (2, 3): 1}


class TestTokenRunsUdtf:
    def _register(self, spark):
        from gasket_spark.functions.udtfs import register_udtfs
        register_udtfs(spark)

    def test_lateral_runs_match_python_rle(self, spark):
        """UDTF via LATERAL join reproduces a Python groupby RLE,
        losslessly (concatenating token*run_len restores the text)."""
        import itertools

        self._register(spark)
        texts = {1: "a a a b b c", 2: "x", 3: "p q p p q q q",
                 4: "same same same same"}
        spark.createDataFrame(list(texts.items()),
                              "doc_id long, text string") \
            .createOrReplaceTempView("_udtf_docs")
        rows = spark.sql("""
            SELECT d.doc_id, r.run_idx, r.token, r.start_pos, r.run_len
            FROM _udtf_docs d, LATERAL token_runs(d.text) r
        """).collect()
        got = {}
        for r in rows:
            got.setdefault(r.doc_id, []).append(
                (r.run_idx, r.token, r.start_pos, r.run_len))
        for doc_id, text in texts.items():
            runs = sorted(got[doc_id])
            toks = text.split(" ")
            want, pos = [], 1
            for idx, (tok, grp) in enumerate(
                    itertools.groupby(toks)):
                n = len(list(grp))
                want.append((idx, tok, pos, n))
                pos += n
            assert runs == want
            # lossless reconstruction
            rebuilt = " ".join(t for _, t, _, n in runs for _ in range(n))
            assert rebuilt == text

    def test_null_text_emits_nothing(self, spark):
        self._register(spark)
        spark.createDataFrame([(1, None)], "doc_id long, text string") \
            .createOrReplaceTempView("_udtf_null")
        n = spark.sql("""
            SELECT * FROM _udtf_null d, LATERAL token_runs(d.text) r
        """).count()
        assert n == 0


class TestBpeMergeTable:
    @staticmethod
    def _apply_merge(syms, left, right):
        """The operator's EXACT merge-application semantics: padded
        string replace iterated to a fixpoint (identical in Python,
        the JVM, and DuckDB — all left-to-right non-overlapping).
        Equals classic list-greedy except within same-pair runs of
        >= 5 symbols, where the grouping (and sometimes the token
        count) differs — found by the fixpoint/greedy hypothesis
        property, pinned there."""
        s = " " + " ".join(syms) + " "
        pat, rep = f" {left} {right} ", f" {left}{right} "
        while True:
            nxt = s.replace(pat, rep)
            if nxt == s:
                return s.strip().split(" ")
            s = nxt

    @classmethod
    def _python_bpe(cls, texts, n_merges):
        """Reference trainer: freq-weighted pair counts over distinct
        words; merge application = the replace-fixpoint semantics
        (see _apply_merge); ties on the smaller 'left right' pair."""
        from collections import Counter

        words = Counter(w for t in texts for w in t.split(" ") if w)
        vocab = {w: list(w) for w in words}
        merges = []
        for rank in range(n_merges):
            counts = Counter()
            for w, syms in vocab.items():
                for a, b in zip(syms, syms[1:]):
                    counts[(a, b)] += words[w]
            if not counts:
                break
            pair = min(counts, key=lambda p: (-counts[p],
                                              f"{p[0]} {p[1]}"))
            merges.append((rank, pair[0], pair[1], counts[pair]))
            for w, syms in vocab.items():
                vocab[w] = cls._apply_merge(syms, *pair)
        return merges

    def test_matches_reference_bpe(self, spark):
        from gasket_spark.operators.bpe import bpe_merge_table

        texts = ["low lower lowest newest newer new",
                 "low low low wider wide widest",
                 "banana bandana banal",
                 "aaaa aaaaa aa a"]          # same-char runs
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        got = bpe_merge_table(df, n_merges=10)
        want = self._python_bpe(texts, 10)
        assert got == want and len(got) == 10

    def test_partition_invariant_and_corpus_grain(self, spark):
        from gasket_spark.operators.bpe import bpe_merge_table

        texts = [("spark scans tables fast " * 3).strip(),
                 "spark sorts spills shuffles",
                 "tables scan spark"]
        df = spark.createDataFrame([(t,) for t in texts], "text string")
        one = bpe_merge_table(df, n_merges=5)
        two = bpe_merge_table(df.repartition(7), n_merges=5)
        assert one == two and len(one) == 5

    def test_run_guard_raises_not_diverges(self, spark):
        """A same-symbol run longer than 2^passes must raise loudly —
        a silent partial merge would diverge from the greedy
        reference (and any oracle) without a hash check noticing."""
        import pytest as _pytest

        from gasket_spark.operators.bpe import bpe_merge_table

        # alternating runs are the single-pass blind spot: the match
        # at " x y x y " consumes the next occurrence's leading space
        df = spark.createDataFrame([("xyxy xyxyxy",)], "text string")
        with _pytest.raises(ValueError, match="replace passes"):
            bpe_merge_table(df, n_merges=1, passes=1)
        # a sufficient pass budget reaches the exact greedy fixpoint
        got = bpe_merge_table(df, n_merges=1, passes=3)
        assert got == [(0, "x", "y", 5)]
        # long same-char runs also converge (and match the reference)
        runs = spark.createDataFrame([("a" * 40,)], "text string")
        assert bpe_merge_table(runs, n_merges=1, passes=4) \
            == [(0, "a", "a", 39)]


class TestBpeEncode:
    def test_matches_reference_encode(self, spark):
        """Replaying the learned merges tokenizes every doc exactly as
        the classic per-word, rank-ordered, list-greedy reference —
        and word boundaries never merge across (the double-space
        separator)."""
        from gasket_spark.operators.bpe import bpe_encode, bpe_merge_table

        texts = {1: "low lower lowest", 2: "new newer newest",
                 3: "wl lw wlw", 4: "a"}
        df = spark.createDataFrame(list(texts.items()),
                                   "doc_id long, text string")
        merges = bpe_merge_table(df, n_merges=6)
        got = {r.doc_id: (r.tokens, r.n_tokens)
               for r in bpe_encode(df, merges).collect()}

        def encode_word(w):
            syms = list(w)
            for _rk, left, right, _n in merges:
                syms = TestBpeMergeTable._apply_merge(syms, left, right)
            return syms

        for doc_id, text in texts.items():
            want = [s for w in text.split(" ") for s in encode_word(w)]
            assert got[doc_id] == (want, len(want)), (doc_id, got[doc_id])

    def test_encode_is_mapside_jvm(self, spark):
        """The encode plan is a zero-exchange, Python-free projection
        — the property that lets a 100 TB corpus tokenize in one
        narrow pass."""
        from gasket_spark.operators.bpe import bpe_encode

        df = spark.createDataFrame([(1, "low lower")],
                                   "doc_id long, text string")
        plan = bpe_encode(df, [(0, "l", "o", 2)])._jdf.queryExecution() \
            .explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
        assert "Exchange" not in plan
        assert "ArrowEvalPython" not in plan
        assert "BatchEvalPython" not in plan


class TestKnnLabelAnn:
    def _clustered(self, spark, n_per=40, seed=3):
        """Two well-separated clusters in 64-d with distinct labels;
        queries drawn near the centers (cluster membership decides
        the vote unambiguously)."""
        import numpy as np

        rng = np.random.RandomState(seed)
        c0 = rng.randn(64); c0 /= np.linalg.norm(c0)
        c1 = -c0
        rows, qrows = [], []
        for i in range(n_per):
            for lbl, c in ((0, c0), (1, c1)):
                v = c + rng.randn(64) * 0.05
                rows.append((lbl * 100000 + i,
                             [float(x) for x in v], lbl))
        for i in range(10):
            lbl = i % 2
            c = c0 if lbl == 0 else c1
            v = c + rng.randn(64) * 0.05
            qrows.append((i, [float(x) for x in v], lbl))
        corpus = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>, label int")
        queries = spark.createDataFrame(
            qrows, "vec_id long, embedding array<float>, expect int")
        return corpus, queries

    def test_agrees_with_exact_on_clustered_data(self, spark):
        from gasket_spark.operators.similarity import (
            knn_label, knn_label_ann)

        corpus, queries = self._clustered(spark)
        exact = {r.query_id: (r.pred_label, r.n_votes)
                 for r in knn_label(corpus, queries, k=5).collect()}
        ann = {r.query_id: (r.pred_label, r.n_votes)
               for r in knn_label_ann(corpus, queries, k=5).collect()}
        assert ann == exact and len(ann) == 10
        want = {r.vec_id: r.expect for r in queries.collect()}
        assert {q: p for q, (p, _) in ann.items()} == want

    def test_candidates_stay_bucketed(self, spark):
        """The ANN path must never score the full query x corpus
        product: candidates come from bucket-pruned scoring (r13:
        one MapInPandas corpus stream), never a nested-loop broadcast
        of the whole query set."""
        from gasket_spark.operators.similarity import knn_label_ann

        corpus, queries = self._clustered(spark)
        plan = knn_label_ann(corpus, queries, k=5)._jdf \
            .queryExecution().explainString(
                spark._jvm.org.apache.spark.sql.execution.ExplainMode
                .fromString("formatted"))
        assert "BroadcastNestedLoopJoin" not in plan
        assert "CartesianProduct" not in plan
        assert "MapInPandas" in plan

    def test_null_labels_survive_the_kernel_carry(self, spark):
        """r13: the label rides through the scoring kernel as a
        carried pandas column (_probe_scores_stream extra_cols) —
        NULL labels must survive that carry and still vote by the
        knn_label rule (count first, smaller label NULLS LAST).
        Pinned by equality with the exact operator on clustered data
        where ANN and exact agree, with one whole cluster unlabeled."""
        from pyspark.sql import functions as F
        from gasket_spark.operators.similarity import (
            knn_label, knn_label_ann)

        corpus, queries = self._clustered(spark)
        corpus = corpus.withColumn(
            "label", F.when(F.col("label") == 1, F.lit(None).cast("int"))
            .otherwise(F.col("label")))
        exact = {r.query_id: (r.pred_label, r.n_votes)
                 for r in knn_label(corpus, queries, k=5).collect()}
        ann = {r.query_id: (r.pred_label, r.n_votes)
               for r in knn_label_ann(corpus, queries, k=5).collect()}
        assert ann == exact and len(ann) == 10
        # cluster-1 queries really exercise the NULL path end to end
        assert any(p is None for p, _ in ann.values())


class TestPackSequences:
    """Concat-and-chunk sequence packing (the r13 bank candidate):
    spans must tile sequences exactly and cover documents losslessly,
    independent of input partitioning."""

    def _toks(self, spark, n_docs=60):
        rows = [(i, (i * 7) % 13 + 1) for i in range(n_docs)]
        return spark.createDataFrame(rows, "doc_id long, n_tok long"), rows

    def test_tiles_and_covers(self, spark):
        from gasket_spark.operators.packing import pack_sequences

        df, rows = self._toks(spark)
        L = 16
        out = pack_sequences(df, "n_tok", "doc_id", L).collect()
        total = sum(n for _, n in rows)
        # lossless doc coverage
        per_doc = {}
        for r in out:
            per_doc[r.doc_id] = per_doc.get(r.doc_id, 0) + r.span_len
        assert per_doc == dict(rows)
        # exact sequence tiling (last sequence may be partial)
        per_seq = {}
        for r in out:
            per_seq[r.seq_id] = per_seq.get(r.seq_id, 0) + r.span_len
        n_seqs = -(-total // L)
        assert set(per_seq) == set(range(n_seqs))
        for s, filled in per_seq.items():
            assert filled == (L if s < n_seqs - 1 else total - L * (n_seqs - 1))
        # offsets stay inside their frames
        for r in out:
            assert 0 <= r.seq_offset and r.seq_offset + r.span_len <= L
            assert 0 <= r.doc_offset

    def test_partition_invariant(self, spark):
        from gasket_spark.operators.packing import pack_sequences

        df, _ = self._toks(spark)
        a = sorted(map(tuple,
                       pack_sequences(df, "n_tok", "doc_id", 9).collect()))
        b = sorted(map(tuple, pack_sequences(
            df.repartition(13), "n_tok", "doc_id", 9).collect()))
        assert a == b

    def test_zero_token_doc_raises(self, spark):
        import pytest

        from gasket_spark.operators.packing import pack_sequences

        df = spark.createDataFrame([(1, 5), (2, 0)],
                                   "doc_id long, n_tok long")
        with pytest.raises(Exception, match="non-positive token count"):
            pack_sequences(df, "n_tok", "doc_id", 8).collect()


class TestSemanticDedup:
    """SemDeDup operator invariants (the r13 bank candidate) — the
    cross-engine twin lives in test_cross_engine.py."""

    def _corpus(self, spark):
        import numpy as np

        rng = np.random.RandomState(7)
        base = rng.randn(40, 64) / 8.0
        rows = [(i, [float(x) for x in base[i]]) for i in range(40)]
        # near-clones of the first 10 (tiny exact-binary nudge)
        rows += [(100 + i, [float(base[i][0]) + 0.0078125]
                  + [float(x) for x in base[i][1:]]) for i in range(10)]
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")

    def test_detects_clones_with_survivor_rule(self, spark):
        from gasket_spark.operators.similarity import semantic_dedup

        out = {r.vec_id: (r.dup_of, r.n_dup_neighbors)
               for r in semantic_dedup(self._corpus(spark),
                                       threshold=0.98,
                                       n_centroids=4).collect()}
        # every clone is dropped in favor of its (lower-id) original
        for i in range(10):
            assert out.get(100 + i, (None,))[0] == i
        # originals never report a lower duplicate at this threshold
        assert all(v >= 100 for v in out)

    def test_partition_invariant(self, spark):
        from gasket_spark.operators.similarity import semantic_dedup

        c = self._corpus(spark)
        a = sorted(map(tuple, semantic_dedup(
            c, threshold=0.98, n_centroids=4).collect()))
        b = sorted(map(tuple, semantic_dedup(
            c.repartition(7), threshold=0.98, n_centroids=4).collect()))
        assert a == b and a


class TestTwoLevelSemanticDedup:
    """Two-level (corpus-proportional-K) SemDeDup invariants — the
    r13 weak-grade fix; the cross-engine twin lives in
    test_cross_engine.py (TestTwoLevelSemanticDedupOracleTwin)."""

    _corpus = TestSemanticDedup._corpus

    def test_shape_rule_is_exact(self):
        """K = ceil(n/target); n_coarse = ceil(sqrt(K)); n_fine =
        ceil(K/n_coarse) — and n_coarse·n_fine always covers K
        without n_coarse ever exceeding the sqrt bound + 1."""
        import math

        from gasket_spark.operators.similarity import two_level_shape

        for n in (1, 63, 64, 65, 1000, 4000, 40000, 10**10):
            for target in (16, 64, 1024):
                k = (n + target - 1) // target
                nc, nf = two_level_shape(n, target)
                assert nc * nf >= k
                assert nc == math.ceil(math.sqrt(k))
                assert (nf - 1) * nc < k  # no over-provisioned level

    def test_detects_clones_with_survivor_rule(self, spark):
        from gasket_spark.operators.similarity import (
            semantic_dedup_two_level)

        out = {r.vec_id: (r.dup_of, r.n_dup_neighbors)
               for r in semantic_dedup_two_level(
                   self._corpus(spark), threshold=0.98,
                   target_cluster=16).collect()}
        for i in range(10):
            assert out.get(100 + i, (None,))[0] == i
        assert all(v >= 100 for v in out)

    def test_partition_invariant(self, spark):
        """The distributed fine Lloyd (applyInPandas per coarse cell)
        and the cogrouped fine assignment are partition-layout
        independent — the property that makes the distributed trainer
        oracle-replicable at all."""
        from gasket_spark.operators.similarity import (
            semantic_dedup_two_level)

        c = self._corpus(spark)
        a = sorted(map(tuple, semantic_dedup_two_level(
            c, threshold=0.98, target_cluster=16).collect()))
        b = sorted(map(tuple, semantic_dedup_two_level(
            c.repartition(7), threshold=0.98, target_cluster=16)
            .collect()))
        assert a == b and a

    def test_assignments_total_and_within_geometry(self, spark):
        """Every input vector gets exactly ONE (ccl, fcl) assignment,
        with labels inside the derived (n_coarse, n_fine) geometry —
        no drops and no fan-out."""
        from gasket_spark.operators.similarity import (
            two_level_assignments, two_level_shape)

        c = self._corpus(spark)
        nc, nf = two_level_shape(c.count(), 16)
        rows = two_level_assignments(c, nc, nf).collect()
        assert len(rows) == 50
        assert sorted(r.id for r in rows) == sorted(
            r.vec_id for r in c.select("vec_id").collect())
        assert all(0 <= r.ccl < nc and 0 <= r.fcl < nf for r in rows)

    def test_incremental_new_vs_corpus_only(self, spark):
        """semantic_dedup_incremental pairs strictly NEW×corpus: the
        quantizer trains on the corpus alone, every clone in the new
        batch reports its original, and no corpus id ever appears as
        a flagged vec_id (corpus×corpus is never re-paired). Also
        partition-layout independent."""
        import numpy as np

        from gasket_spark.operators.similarity import (
            semantic_dedup_incremental)

        rng = np.random.RandomState(7)
        base = rng.randn(40, 64) / 8.0
        corpus = spark.createDataFrame(
            [(i, [float(x) for x in base[i]]) for i in range(40)],
            "vec_id long, embedding array<double>")
        new = spark.createDataFrame(
            [(100 + i, [float(base[i][0]) + 0.0078125]
              + [float(x) for x in base[i][1:]]) for i in range(10)],
            "vec_id long, embedding array<double>")
        out = {r.vec_id: (r.dup_of, r.n_dup_neighbors)
               for r in semantic_dedup_incremental(
                   corpus, new, threshold=0.98,
                   target_cluster=16).collect()}
        for i in range(10):
            assert out.get(100 + i, (None,))[0] == i
        assert all(k >= 100 for k in out)  # only NEW ids flagged
        a = sorted(out.items())
        b = sorted(
            (r.vec_id, (r.dup_of, r.n_dup_neighbors))
            for r in semantic_dedup_incremental(
                corpus.repartition(5), new.repartition(3),
                threshold=0.98, target_cluster=16).collect())
        assert a == b

    def test_assignment_regimes_agree(self, spark):
        """The broadcast-quantizer map pass (default: bounded K-row
        artifact, no extra shuffle) and the cogrouped per-cell path
        (zero driver collect, for K·dim past executor memory) compute
        the IDENTICAL argmax on identical matrices — same assignments
        row for row, so the regime is an execution knob, not
        semantics."""
        from gasket_spark.operators.similarity import (
            two_level_assignments, two_level_shape)

        c = self._corpus(spark)
        nc, nf = two_level_shape(c.count(), 16)
        a = sorted((r.id, r.ccl, r.fcl) for r in two_level_assignments(
            c, nc, nf, assign_via="broadcast").collect())
        b = sorted((r.id, r.ccl, r.fcl) for r in two_level_assignments(
            c, nc, nf, assign_via="cogroup").collect())
        assert a == b and len(a) == 50


class TestSessionCacheHygiene:
    def test_free_session_caches_releases_everything_and_rebuilds(
            self, spark):
        """free_session_caches releases EVERY session-resident block —
        the tracked stamp caches AND the orphaned per-iteration
        localCheckpoints iterative queries leave behind (the r13
        catch: a full-registry sf0.1 sweep OOMed at query ~209 purely
        from accumulated blocks) — and everything rebuilds on demand."""
        from gasket_spark.queries import QUERIES, free_session_caches

        sf = "/root/testdata/sf0.001"
        QUERIES["q_dedup_ngram"](spark, sf).count()
        QUERIES["q_graph_triangles"](spark, sf).count()
        jsc = spark.sparkContext._jsc
        before = len(dict(jsc.getPersistentRDDs()))
        assert before > 0
        # default: tracked caches only — always safe, rebuilds on
        # demand; the triangles per-call localCheckpoint stays (an
        # orphan the default must NOT touch: a caller-held checkpoint
        # is indistinguishable, and unpersisting one is data loss)
        freed = free_session_caches(spark)
        assert freed > 0
        mid = len(dict(jsc.getPersistentRDDs()))
        assert 0 < mid < before
        # opt-in sweep releases the orphans too
        free_session_caches(spark, sweep_orphans=True)
        assert len(dict(jsc.getPersistentRDDs())) == 0
        # rebuild on demand, same results
        n1 = QUERIES["q_dedup_ngram"](spark, sf).count()
        assert n1 == QUERIES["q_dedup_ngram"](spark, sf).count()

    def test_collocations_bigram_cache_is_released(self, spark):
        """q_collocations pins its bigram table through the plan-persist
        cache: a second call reuses the first call's cache instead of
        leaking another, free_session_caches releases it, and the
        result does not change."""
        from gasket_spark.queries import QUERIES, free_session_caches

        free_session_caches(spark)
        jsc = spark.sparkContext._jsc
        baseline = len(dict(jsc.getPersistentRDDs()))
        first = QUERIES["q_collocations"](spark, SF_SMALL).collect()
        second = QUERIES["q_collocations"](spark, SF_SMALL).collect()
        assert len(dict(jsc.getPersistentRDDs())) == baseline + 1
        free_session_caches(spark)
        assert len(dict(jsc.getPersistentRDDs())) == baseline
        assert first and first == second
        assert QUERIES["q_collocations"](spark, SF_SMALL).collect() == first
        free_session_caches(spark)


class TestShortNullDocRobustness:
    """The r13 review's confirmed-live crash class: fixtures have no
    short/NULL docs, so the green suite never exercised these paths —
    every text kernel must survive them (and the LSH band join must
    not go quadratic on the shared all-sentinel signature)."""

    def _corpus(self, spark):
        return spark.createDataFrame(
            [(1, None), (2, "one two"), (3, ""),
             (4, "alpha beta gamma delta epsilon zeta"),
             (5, "alpha beta gamma delta epsilon eta")],
            "doc_id long, text string")

    def test_every_kernel_survives_short_and_null_docs(self, spark):
        from gasket_spark.functions import text as T

        df = self._corpus(spark)
        rows = df.select(
            T.distinct_shingles("text", 3).alias("sh"),
            T.hashed_shingle_set("text", 3).alias("hs"),
            T.simhash64("text").alias("sim"),
            T.simhash_from_token_hashes(
                F.transform(T.tokens("text"),
                            lambda t: F.xxhash64(t))).alias("sb"),
            T.rolling_hash("text").alias("rh")).collect()
        by_id = {i + 1: r for i, r in enumerate(rows)}
        # NULL and sub-n docs yield EMPTY shingle sets, not crashes
        assert by_id[1].sh == [] and by_id[1].hs == []
        assert by_id[2].sh == [] and by_id[3].sh == []
        assert len(by_id[4].sh) == 4

    def test_minhash_excludes_empty_sets_from_banding(self, spark):
        pairs = {(r.id_a, r.id_b) for r in D.minhash_lsh_pairs(
            self._corpus(spark), threshold=0.5).collect()}
        # the two real near-dups pair; the empty-set docs pair with
        # NOTHING (no all-sentinel quadratic candidates)
        assert (4, 5) in pairs
        assert all(a not in (1, 2, 3) and b not in (1, 2, 3)
                   for a, b in pairs)

    def test_rolling_hash_wraps_and_is_order_sensitive(self, spark):
        """Under Spark 4's default ANSI mode the old JVM fold threw
        ARITHMETIC_OVERFLOW on any 2+-token doc; the Arrow kernel
        wraps mod 2^64 by definition. Order sensitivity is the
        function's contract vs fingerprint()."""
        from gasket_spark.functions import text as T

        df = spark.createDataFrame(
            [(1, "a b c"), (2, "c b a"), (3, "a b c")],
            "doc_id long, text string")
        got = {r.doc_id: r.rh for r in df.select(
            "doc_id", T.rolling_hash("text").alias("rh")).collect()}
        assert got[1] == got[3] != got[2]
        # repartition-invariant (vectorized Horner == left fold)
        got2 = {r.doc_id: r.rh for r in df.repartition(3).select(
            "doc_id", T.rolling_hash("text").alias("rh")).collect()}
        assert got == got2

    def test_band_divisibility_raises_at_call_time(self, spark):
        from gasket_spark.functions import text as T

        with pytest.raises(ValueError, match="divisible"):
            T.minhash_band_hashes(F.col("x"), num_hashes=64, bands=12)
