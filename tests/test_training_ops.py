"""Training-data pipeline operators: dedup family, similarity search,
text analysis, multimodal plumbing."""

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from professional_services_data_validator_spark.operators.dedup import (
    exact_dedup,
    jaccard_verify,
    minhash_dedup_pairs,
    minhash_signatures,
    ngram_jaccard_pairs,
    lsh_candidates,
    shingles,
    simhash,
    simhash_near_pairs,
)
from professional_services_data_validator_spark.operators.similarity import (
    brute_force_topk,
    ivf_topk,
    label_centroids,
)
from professional_services_data_validator_spark.operators.text import (
    fingerprint,
    language_id,
    quality_score,
    token_count,
)
from professional_services_data_validator_spark.operators.multimodal import (
    decode_media,
    frame_sample_plan,
    media_metadata,
    synthesize_media,
)


def _docs(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _emb(spark, sf_dir):
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet")


# ---------------------------------------------------------------- dedup ----

def test_exact_dedup(spark, transcripts):
    # transcripts text repeats (event_type + props combos); verify drop set
    drops = exact_dedup(transcripts, "text", ["conv_id", "turn_idx"])
    n_rows = transcripts.count()
    n_distinct = transcripts.select("text").distinct().count()
    assert drops.count() == n_rows - n_distinct
    # keeper not in drop set: smallest (conv_id, turn_idx) per text kept
    assert drops.filter(F.col("keep_rank") == 1).count() == 0


def test_minhash_family_closed_form(spark):
    """signature_j over a single-shingle doc = (a_j*h + b_j) mod P with h
    the 60-bit md5 prefix mod P — the exact literals the DuckDB oracle
    embeds (operators/dedup.py minhash_coeffs). Guards both the family
    definition and the engine/oracle coefficient coupling."""
    import hashlib

    from professional_services_data_validator_spark.operators.dedup import (
        MINHASH_P,
        minhash_coeffs,
    )

    df = spark.createDataFrame([Row(doc_id=7, text="alpha beta gamma")])
    sh = shingles(df, "doc_id", "text", k=3)  # exactly one shingle
    row = minhash_signatures(sh, num_hashes=4).collect()[0]
    h = (
        int(hashlib.md5(b"alpha beta gamma").hexdigest()[:15], 16)
        % MINHASH_P
    )
    for j in range(4):
        a, b = minhash_coeffs(j)
        assert row[f"mh_{j}"] == (a * h + b) % MINHASH_P
    # distinct multipliers — the 51x candidate blowup of a correlated
    # (consecutive-multiplier) family came from exactly this degeneracy
    assert len({minhash_coeffs(j)[0] for j in range(16)}) == 16


def test_cc_restores_session_shuffle_partitions(spark, sf_dir):
    """Both resolvers bracket their edge-sized loop partitioning and must
    restore the session value even on the non-error path."""
    from professional_services_data_validator_spark.operators.dedup import (
        dedup_clusters,
    )

    docs = _docs(spark, sf_dir)
    before = spark.conf.get("spark.sql.shuffle.partitions")
    dedup_clusters(docs, "doc_id", "text").count()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before
    dedup_clusters(docs, "doc_id", "text", components="star").count()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before


def test_shingles_and_signatures(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="a b c d e"), Row(doc_id=2, text="a b c d e"),
         Row(doc_id=3, text="z y x w v")]
    )
    sh = shingles(df, "doc_id", "text", k=3)
    assert sh.filter(F.col("id") == 1).count() == 3  # 5-3+1
    sig = minhash_signatures(sh, num_hashes=8)
    rows = {r.id: r for r in sig.collect()}
    # identical docs -> identical signatures
    assert [rows[1][f"mh_{j}"] for j in range(8)] == [
        rows[2][f"mh_{j}"] for j in range(8)
    ]
    assert [rows[1][f"mh_{j}"] for j in range(8)] != [
        rows[3][f"mh_{j}"] for j in range(8)
    ]


def test_minhash_lsh_finds_near_dups(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    # construct guaranteed near-dups: append one token to a copy
    base = docs.limit(20).select("doc_id", "text")
    copies = base.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    corpus = base.unionByName(copies)
    pairs = minhash_dedup_pairs(
        corpus, "doc_id", "text", k=3, num_hashes=16, bands=8, threshold=0.5
    ).collect()
    found = {(r.id_a, r.id_b) for r in pairs}
    # every (i, i+100000) pair should surface with high jaccard
    expected = {(r.doc_id, r.doc_id + 100000) for r in base.collect()}
    assert expected <= found
    assert all(r.jaccard > 0.8 for r in pairs if (r.id_a, r.id_b) in expected)


def test_lsh_no_quadratic_blowup(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    sh = shingles(docs, "doc_id", "text", k=3)
    sig = minhash_signatures(sh, num_hashes=16)
    cand = lsh_candidates(sig, num_hashes=16, bands=4)
    n_docs = docs.count()
    # candidates must be a small fraction of the n^2/2 pair space
    assert cand.count() < n_docs * n_docs / 20


def test_jaccard_verify_needs_a_shingle_source():
    """Neither the shingle stream nor a slicer: a readable error before any
    Spark work, not an AttributeError deep in the plan."""
    with pytest.raises(ValueError, match="provide sh or sh_slicer"):
        jaccard_verify(None, None)


def test_ngram_jaccard_exact(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the quick brown fox jumps"),
            Row(doc_id=2, text="the quick brown fox leaps"),
            Row(doc_id=3, text="completely different content here now"),
        ]
    )
    pairs = ngram_jaccard_pairs(df, "doc_id", "text", k=2, threshold=0.1)
    got = {(r.id_a, r.id_b): r.jaccard for r in pairs.collect()}
    # doc1: {the quick, quick brown, brown fox, fox jumps}
    # doc2: {the quick, quick brown, brown fox, fox leaps} -> 3/5
    assert math.isclose(got[(1, 2)], 0.6, abs_tol=1e-9)
    assert (1, 3) not in got and (2, 3) not in got


def test_simhash_near_pairs(spark):
    rows = [Row(doc_id=i, text=f"shared tokens alpha beta gamma delta w{i}")
            for i in range(6)]
    rows.append(Row(doc_id=99, text="entirely unrelated vocabulary zeta"))
    df = spark.createDataFrame(rows)
    sim = simhash(df, "doc_id", "text", bits=16)
    vals = {r.id: r.simhash for r in sim.collect()}
    assert all(0 <= v < 2**16 for v in vals.values())
    pairs = simhash_near_pairs(sim, max_hamming=3, bits=16).collect()
    ids_in_pairs = {r.id_a for r in pairs} | {r.id_b for r in pairs}
    assert len(pairs) > 0
    # near-identical docs cluster; the outlier shouldn't pair with everyone
    assert sum(1 for r in pairs if 99 in (r.id_a, r.id_b)) < 6


# ------------------------------------------------------------ similarity ----

def test_brute_force_topk(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 5)
    topk = brute_force_topk(emb, q, k=5).collect()
    by_q = {}
    for r in topk:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for qid, rows in by_q.items():
        rows.sort(key=lambda r: r.rank)
        assert [r.rank for r in rows] == [1, 2, 3, 4, 5]
        scores = [r.score for r in rows]
        assert scores == sorted(scores, reverse=True)
        assert all(r.neighbor_id != qid for r in rows)
        assert all(-1.0 <= s <= 1.0 for s in scores)


def test_ivf_recall_vs_exact(spark, sf_dir):
    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(emb, q, k=5).collect()
    approx = ivf_topk(emb, q, k=5, nprobe=3).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.3  # random embeddings: labels are weak clusters
    # candidate scan is bounded: nprobe/|labels| of the corpus per query
    cents = label_centroids(emb)
    assert cents.count() == 10
    assert len(cents.first().centroid) == 64


def test_ivf_kmeans_trained_quantizer(spark, sf_dir):
    """Trained spherical k-means quantizer (round-2): recall vs the exact
    path must beat the untrained per-label quantizer's floor, and training
    must be deterministic (seeded md5 init, fixed iteration count)."""
    from professional_services_data_validator_spark.operators.similarity import (
        ivf_kmeans_topk,
        kmeans_centroids,
    )

    emb = _emb(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < 20)
    exact = brute_force_topk(emb, q, k=5).collect()
    approx = ivf_kmeans_topk(
        emb, q, k=5, nprobe=3, n_clusters=10, iters=3
    ).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.5, f"k-means IVF recall@5 too low: {recall}"

    # deterministic training: identical centroids across runs
    c1 = kmeans_centroids(emb, n_clusters=4, iters=2)
    c2 = kmeans_centroids(emb.repartition(7), n_clusters=4, iters=2)
    assert len(c1) == 4 and len(c1[0]) == 64
    for a, b in zip(c1, c2):
        assert max(abs(x - y) for x, y in zip(a, b)) < 1e-9


def test_kmeans_local_replay_matches_spark(spark, sf_dir):
    """The pure-Python Lloyd replay (the independent implementation behind
    the embedding_kmeans_ann DuckDB oracle) must reproduce the Spark-trained
    centroid matrix EXACTLY — KMEANS_ROUND_DP rounding pins both sides to
    the same 9-dp grid, so equality is exact, not approximate."""
    from professional_services_data_validator_spark.operators.similarity import (
        kmeans_centroids,
        kmeans_centroids_local,
    )

    emb = _emb(spark, sf_dir)
    rows = [(r["vec_id"], list(r["embedding"])) for r in
            emb.select("vec_id", "embedding").collect()]
    spark_c = kmeans_centroids(emb, n_clusters=10, iters=3)
    local_c = kmeans_centroids_local(rows, n_clusters=10, iters=3)
    assert spark_c == local_c


def test_kmeans_sampled_trainer_matches_oracle_draw(spark, sf_dir):
    """The scale-path trainer (kmeans_centroids_sampled: one Spark
    TakeOrdered job + driver Lloyd) must produce exactly the centroids the
    DuckDB oracle derives by re-drawing the same md5-sample locally — and
    when the sample covers the whole corpus it must equal the full local
    replay."""
    import hashlib

    from professional_services_data_validator_spark.operators.similarity import (
        kmeans_centroids_local,
        kmeans_centroids_sampled,
    )

    emb = _emb(spark, sf_dir)
    rows = [(r["vec_id"], list(r["embedding"])) for r in
            emb.select("vec_id", "embedding").collect()]
    for n in (64, 10**9):  # proper subset + sample-covers-all
        sample = sorted(
            rows, key=lambda r: hashlib.md5(str(r[0]).encode()).hexdigest()
        )[:n]
        local_c = kmeans_centroids_local(sample, n_clusters=8, iters=2)
        spark_c = kmeans_centroids_sampled(
            emb, n_clusters=8, iters=2, sample_size=n
        )
        assert spark_c == local_c


def test_kmeans_sampled_recall_on_clustered_fixture(spark):
    """The sampled trainer must still recover well-separated blobs: recall@5
    >= 0.8 vs brute force with a 100-row training sample (half the
    fixture)."""
    from professional_services_data_validator_spark.operators.similarity import (
        ivf_kmeans_topk,
    )

    emb = _clustered_embeddings(spark)
    q = emb.filter(F.col("vec_id") % 20 == 0)
    exact = brute_force_topk(emb, q, k=5).collect()
    approx = ivf_kmeans_topk(
        emb, q, k=5, nprobe=2, n_clusters=8, iters=3, train_sample=100
    ).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, f"sampled-trainer recall@5 too low: {recall}"


def _clustered_embeddings(spark, n_clusters=8, per_cluster=25, dim=16):
    """Deterministic clustered fixture: tight Gaussian-ish blobs around
    well-separated random centers (seeded PRNG). Unlike the random sf
    embeddings (where labels are weak clusters and any quantizer's recall
    floor is low), blobs make recall a meaningful quantizer-quality metric."""
    import random

    rng = random.Random(7)
    centers = [
        [rng.uniform(-1, 1) for _ in range(dim)] for _ in range(n_clusters)
    ]
    rows = []
    vid = 0
    for ci, c in enumerate(centers):
        for _ in range(per_cluster):
            vec = [x + rng.gauss(0, 0.05) for x in c]
            rows.append(Row(vec_id=vid, label=ci,
                            embedding=[float(v) for v in vec]))
            vid += 1
    return spark.createDataFrame(rows)


def test_kmeans_recall_on_clustered_fixture(spark):
    """VERDICT r2 #5: the 0.3 recall bound on unclusterable random
    embeddings was weak evidence. On a genuinely clustered corpus the
    trained quantizer must recover the blobs: recall@5 >= 0.8 vs the exact
    brute-force path."""
    from professional_services_data_validator_spark.operators.similarity import (
        ivf_kmeans_topk,
    )

    emb = _clustered_embeddings(spark)
    q = emb.filter(F.col("vec_id") % 20 == 0)  # one query per blob region
    exact = brute_force_topk(emb, q, k=5).collect()
    approx = ivf_kmeans_topk(
        emb, q, k=5, nprobe=2, n_clusters=8, iters=3
    ).collect()
    exact_set = {(r.query_id, r.neighbor_id) for r in exact}
    approx_set = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(exact_set & approx_set) / len(exact_set)
    assert recall >= 0.8, f"clustered-fixture recall@5 too low: {recall}"


# ------------------------------------------------------------------ text ----

def test_token_count(spark):
    df = spark.createDataFrame(
        [Row(doc_id=1, text="one two three"), Row(doc_id=2, text=""),
         Row(doc_id=3, text="  padded   spaces  ")]
    )
    rows = {r.id: r for r in token_count(df, "doc_id", "text").collect()}
    assert rows[1].n_tokens == 3
    assert rows[2].n_tokens == 0
    assert rows[3].n_tokens == 2
    assert rows[1].bpe_est == 4  # one(1) + two(1) + three(2 subwords)


def test_quality_score(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    q = quality_score(docs, "doc_id", "text")
    rows = q.collect()
    assert all(0.0 <= r.quality_score <= 1.0 for r in rows)
    assert all(r.n_tokens > 0 for r in rows)
    # degenerate text scores lower than real text
    bad = spark.createDataFrame([Row(doc_id=1, text="x. .. !!")])
    bscore = quality_score(bad, "doc_id", "text").first().quality_score
    good_avg = q.agg(F.avg("quality_score")).first()[0]
    assert bscore < good_avg


def test_language_id(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="the cat and the dog of a house"),
            Row(doc_id=2, text="der Hund und die Katze und das Haus"),
            Row(doc_id=3, text="el perro y la casa de que si"),
        ]
    )
    rows = {r.id: r.pred_lang for r in language_id(df, "doc_id", "text").collect()}
    assert rows[1] == "en"
    assert rows[2] == "de"
    assert rows[3] == "es"


def test_fingerprint_stability(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    fp1 = {r.id: r.fingerprint for r in fingerprint(docs, "doc_id", "text").collect()}
    fp2 = {
        r.id: r.fingerprint
        for r in fingerprint(docs.repartition(7), "doc_id", "text").collect()
    }
    assert fp1 == fp2  # partitioning-independent
    # identical docs get identical fingerprints; distinct docs mostly differ
    assert len(set(fp1.values())) > len(fp1) * 0.9


# ------------------------------------------------------------- multimodal ----

def test_multimodal_plumbing(spark, sf_dir):
    docs = _docs(spark, sf_dir)
    media = synthesize_media(docs, "doc_id", "text")
    assert dict(media.dtypes)["payload"] == "binary"
    meta = media_metadata(media).collect()
    assert all(r.payload_bytes == 16 for r in meta)  # md5 = 16 bytes
    decoded = decode_media(media).collect()
    assert len(decoded) == docs.count()
    assert all(r.width > 0 and r.height > 0 for r in decoded)
    assert all(0.0 <= r.mean_px <= 1.0 for r in decoded)
    # deterministic: same input -> same decode
    d2 = decode_media(media).collect()
    assert sorted((r.id, r.mean_px) for r in decoded) == sorted(
        (r.id, r.mean_px) for r in d2
    )
    plan = frame_sample_plan(media, every_n=10).collect()
    assert all(r.frame_indices[0] == 0 for r in plan)
    assert all(len(r.frame_indices) >= 1 for r in plan)


def test_tfidf_top_terms(spark):
    from professional_services_data_validator_spark.operators.text import (
        tfidf_top_terms,
    )

    df = spark.createDataFrame(
        [
            Row(doc_id=1, text="apple apple banana"),
            Row(doc_id=2, text="banana cherry"),
            Row(doc_id=3, text="cherry cherry cherry durian"),
        ]
    )
    out = tfidf_top_terms(df, "doc_id", "text", top_k=2).collect()
    import math

    by_doc = {}
    for r in out:
        by_doc.setdefault(r.id, []).append((r.rank, r.token, r.tfidf))
    # 'apple' appears twice in doc1 only: tfidf = 2*ln(3/1)
    assert by_doc[1][0][1] == "apple"
    assert abs(by_doc[1][0][2] - round(2 * math.log(3), 6)) < 1e-9
    # 'banana' in 2 of 3 docs: ln(3/2) beats nothing else in doc2 but cherry
    assert by_doc[3][0][1] == "cherry"  # 3*ln(3/2)
    assert all(rs == sorted(rs) for rs in by_doc.values())


def test_srp_near_pairs_blocking_and_verify(spark):
    """SRP near-dup: identical vectors always pair (hamming 0, cos 1);
    orthogonal vectors never survive the cosine verify; candidate set comes
    from bucketed chunks, not all pairs."""
    from professional_services_data_validator_spark.operators.similarity import (
        srp_near_pairs,
        srp_planes,
        srp_signature,
    )

    dim = 8
    v = [1.0] * dim
    w = [1.0] * 4 + [-1.0] * 4  # orthogonal to v
    df = spark.createDataFrame(
        [(1, v), (2, v), (3, w)], "vec_id long, embedding array<double>"
    )
    pairs = srp_near_pairs(
        df, bits=8, max_hamming=1, min_cosine=0.5, n_chunks=2
    ).collect()
    keys = {(r.id_a, r.id_b) for r in pairs}
    assert (1, 2) in keys
    got = next(r for r in pairs if (r.id_a, r.id_b) == (1, 2))
    assert got.hamming == 0 and abs(got.cos - 1.0) < 1e-9
    assert (1, 3) not in keys and (2, 3) not in keys

    # deterministic planes: same seed -> same signature across partitionings
    s1 = {r.id: r.srp_sig for r in srp_signature(df, bits=8).collect()}
    s2 = {
        r.id: r.srp_sig
        for r in srp_signature(df.repartition(5), bits=8).collect()
    }
    assert s1 == s2
    assert srp_planes(4, 2, 42) == srp_planes(4, 2, 42)
    assert srp_planes(4, 2, 42) != srp_planes(4, 2, 43)


def test_real_bmp_and_wav_decode(spark):
    """VERDICT r2 #6: the decode kernel must do REAL decode work. Construct
    genuine BMP/WAV bytes, parse them both directly and through the
    identical mapInPandas contract, and check every extracted field."""
    from pyspark.sql import types as T

    from professional_services_data_validator_spark.operators.multimodal import (
        build_bmp,
        build_wav,
        parse_bmp,
        parse_wav,
    )

    # 3x2 24-bit BMP, pixel-data bytes 0..17 (stride padding excluded)
    bmp = build_bmp(3, 2, lambda k: k)
    w, h, mean = parse_bmp(bmp)
    assert (w, h) == (3, 2)
    assert abs(mean - sum(range(18)) / 18 / 255.0) < 1e-12
    # PCM16 mono WAV, 4 samples
    wav = build_wav([0, 16384, -16384, 32767], sample_rate=8000)
    ch, rate, n, amp = parse_wav(wav)
    assert (ch, rate, n) == (1, 8000, 4)
    assert abs(amp - (0 + 16384 + 16384 + 32767) / 4 / 32768.0) < 1e-12
    # corrupt/foreign bytes are rejected, not misparsed
    assert parse_bmp(b"BM" + b"\x00" * 10) is None
    assert parse_wav(b"RIFFxxxxWAVE") is None
    assert parse_bmp(bytes(range(64))) is None

    schema = T.StructType.fromDDL(
        "id long, modality string, payload binary, "
        "meta struct<source:string, declared_w:int, declared_h:int>"
    )
    df = spark.createDataFrame(
        [
            (1, "image", bytearray(bmp), ("t", None, None)),
            (2, "audio", bytearray(wav), ("t", None, None)),
            (3, "image", bytes(range(16)), ("t", 9, 9)),  # opaque fallback
        ],
        schema,
    )
    rows = {r.id: r for r in decode_media(df).collect()}
    assert rows[1].codec == "bmp" and (rows[1].width, rows[1].height) == (3, 2)
    assert abs(rows[1].mean_px - mean) < 1e-12
    assert rows[2].codec == "wav"
    assert (rows[2].width, rows[2].height) == (4, 1)  # n_samples, channels
    assert abs(rows[2].mean_px - amp) < 1e-12
    assert rows[3].codec == "raw" and rows[3].width == 9


def test_synthesize_bmp_roundtrip(spark):
    """synthesize_bmp payloads are REAL BMPs: the parser must recover the
    formula-derived dims and pixel mean bit-for-bit."""
    from professional_services_data_validator_spark.operators.multimodal import (
        decode_media,
        synthesize_bmp,
    )

    docs = spark.createDataFrame([(i,) for i in range(20)], "doc_id long")
    out = {r.id: r for r in decode_media(synthesize_bmp(docs)).collect()}
    for i in range(20):
        w, h = i % 13 + 1, i % 7 + 1
        n = w * h * 3
        want_mean = sum((i * 31 + k) % 256 for k in range(n)) / n / 255.0
        r = out[i]
        assert r.codec == "bmp"
        assert (r.width, r.height) == (w, h)
        assert abs(r.mean_px - want_mean) < 1e-12


def test_resize_images_nearest_neighbor(spark):
    """resize_images is a REAL kernel: the resized payload is itself a
    valid BMP whose pixels equal the nearest-neighbor index map of the
    input grid, for both down- and up-sampling; undecodable payloads give
    NULL features."""
    from pyspark.sql import types as T

    from professional_services_data_validator_spark.operators.multimodal import (
        bmp_pixels,
        build_bmp,
        encode_bmp,
        resize_images,
    )

    schema = T.StructType.fromDDL(
        "id long, modality string, payload binary, "
        "meta struct<source:string, declared_w:int, declared_h:int>"
    )
    big = build_bmp(6, 5, lambda k: (7 * k) % 256)  # downsample case
    small = build_bmp(2, 1, lambda k: 100 + k)  # upsample case
    df = spark.createDataFrame(
        [
            (1, "image", bytearray(big), ("t", None, None)),
            (2, "image", bytearray(small), ("t", None, None)),
            (3, "image", bytes(range(16)), ("t", 9, 9)),  # not a BMP
        ],
        schema,
    )
    rows = {r.id: r for r in resize_images(df, 4, 4).collect()}

    for rid, src, (w_in, h_in) in ((1, big, (6, 5)), (2, small, (2, 1))):
        r = rows[rid]
        assert (r.in_w, r.in_h, r.out_w, r.out_h) == (w_in, h_in, 4, 4)
        px_in = bmp_pixels(src)
        want = px_in[[(L * h_in) // 4 for L in range(4)]][
            :, [(c * w_in) // 4 for c in range(4)]
        ]
        got = bmp_pixels(bytes(r.payload))  # re-decode the resized BMP
        assert got is not None and (got == want).all()
        assert abs(
            r.out_mean_px - int(want.sum(dtype="int64")) / (48 * 255.0)
        ) < 1e-12
        # encode/decode round-trip is exact
        assert (bmp_pixels(encode_bmp(px_in)) == px_in).all()

    assert rows[3].in_w is None and rows[3].payload is None
    assert rows[3].out_mean_px is None


def test_decode_media_null_payload_yields_null_features(spark):
    """An undecodable (NULL) asset must produce NULL features, not a fake
    black image — SQL aggregates and the DuckDB oracle agree on NULL."""
    from pyspark.sql import types as T

    schema = T.StructType.fromDDL(
        "id long, modality string, payload binary, "
        "meta struct<source:string, declared_w:int, declared_h:int>"
    )
    df = spark.createDataFrame(
        [
            (1, "image", bytes(range(16)), ("s", 100, 100)),
            (2, "image", None, ("s", 100, 100)),
        ],
        schema,
    )
    rows = {r.id: r for r in decode_media(df).collect()}
    assert rows[1].mean_px is not None and rows[1].width == 100
    assert rows[2].mean_px is None
    assert rows[2].width is None and rows[2].height is None


def test_connected_components_transitive_chain(spark):
    """Min-label propagation must cross multi-hop chains (diameter > 1):
    a path 1-2-3-4-5 is ONE component labeled by its min node, and nodes
    with no edges keep their own id as cluster_id."""
    import pytest

    from professional_services_data_validator_spark.operators.dedup import (
        connected_components,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 10, 11, 99]], ["id"]
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components(pairs, nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 99: 99}

    # refusing to return silently-truncated propagation: the 5-chain needs
    # more than 2 rounds, so max_iter=2 must raise, not mislabel
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(pairs, nodes, max_iter=2)


def test_dedup_clusters_end_to_end(spark):
    """LSH pairs -> components -> per-doc cluster rows: transitive near-dups
    (a~b, b~c) land in ONE cluster whose canonical is the min doc id;
    unrelated docs are singleton canonicals; one output row per input doc."""
    from professional_services_data_validator_spark.operators.dedup import (
        dedup_clusters,
    )

    base = "the quick brown fox jumps over the lazy dog again and again"
    docs = spark.createDataFrame(
        [
            (1, base),
            (2, base + " today"),          # near-dup of 1
            (3, "so " + base),             # near-dup of 1 and 2
            (4, "completely different words about training data pipelines"),
        ],
        ["doc_id", "text"],
    )
    rows = {
        r["doc_id"]: r
        for r in dedup_clusters(
            docs, "doc_id", "text", k=2, num_hashes=8, bands=4,
            threshold=0.3,
        ).collect()
    }
    assert len(rows) == 4
    assert rows[1]["cluster_id"] == rows[2]["cluster_id"] == 1
    assert rows[3]["cluster_id"] == 1
    assert rows[1]["cluster_size"] == 3 and rows[1]["is_canonical"]
    assert not rows[2]["is_canonical"] and not rows[3]["is_canonical"]
    assert rows[4]["cluster_id"] == 4 and rows[4]["cluster_size"] == 1
    assert rows[4]["is_canonical"]


def test_decontaminate_overlap_counts_and_threshold(spark):
    """Known shingle overlaps: doc sharing >= min_overlap distinct 3-grams
    with a benchmark doc is flagged with exact (n_overlap, overlap_frac);
    a doc sharing only one shingle is NOT flagged at min_overlap=2."""
    from professional_services_data_validator_spark.operators.dedup import (
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps high")], ["bench_id", "text"]
    )  # 4 distinct 3-gram shingles
    docs = spark.createDataFrame(
        [
            # shares "the quick brown" and "quick brown fox" -> flagged
            (1, "see the quick brown fox run"),
            # shares only "jumps high <pad>"? no — shares zero 3-grams
            (2, "completely unrelated words entirely different text"),
            # shares exactly one shingle ("fox jumps high") -> below threshold
            (3, "a red fox jumps high"),
        ],
        ["doc_id", "text"],
    )
    rows = decontaminate(
        docs, bench, "doc_id", "text", "bench_id", "text", k=3, min_overlap=2
    ).collect()
    assert len(rows) == 1
    r = rows[0]
    assert r["doc_id"] == 1 and r["bench_id"] == 100
    assert r["n_overlap"] == 2 and r["bench_ngrams"] == 4
    assert r["overlap_frac"] == 0.5

    # min_overlap=1 also surfaces doc 3's single shared shingle
    ids = {
        (r["doc_id"], r["n_overlap"])
        for r in decontaminate(
            docs, bench, "doc_id", "text", "bench_id", "text",
            k=3, min_overlap=1,
        ).collect()
    }
    assert ids == {(1, 2), (3, 1)}


def test_decontaminate_broadcasts_benchmark_side(spark):
    """The 100-TB posture: the corpus-shingle stream must never shuffle —
    both benchmark joins are broadcast, so the only exchange in the plan
    is the hit aggregation."""
    from professional_services_data_validator_spark.operators.dedup import (
        decontaminate,
    )

    bench = spark.createDataFrame(
        [(100, "the quick brown fox jumps high")], ["bench_id", "text"]
    )
    docs = spark.createDataFrame(
        [(1, "see the quick brown fox run")], ["doc_id", "text"]
    )
    plan = (
        decontaminate(docs, bench, "doc_id", "text", "bench_id", "text", k=3)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # overlap dedup happens POST-join via countDistinct (map-side partial
    # dedup of matched triples) — a pre-join corpus .distinct() would put an
    # Exchange carrying the whole exploded corpus-shingle stream between the
    # corpus Generate and its join. Walk the corpus Generate's ancestors:
    # the first join above it must be a BroadcastHashJoin with NO Exchange
    # in between.
    assert "partial_count(distinct shingle" in plan
    lines = plan.splitlines()
    # the corpus Generate is the one whose CHILD projection tokenizes
    # doc_id (the token array is materialized below the explode so the
    # split is not re-evaluated per gram inside the lambda)
    gen_i = next(
        i for i, l in enumerate(lines)
        if "Generate explode" in l
        and any("doc_id" in c for c in lines[i + 1 : i + 3])
    )

    def _depth(line):
        p = line.find("+-")
        return p if p >= 0 else -1

    d = _depth(lines[gen_i])
    for line in reversed(lines[:gen_i]):
        dl = _depth(line)
        if dl < d:  # ancestor
            d = dl
            assert "Exchange" not in line, f"corpus stream shuffles: {line}"
            if "Join" in line:
                assert "BroadcastHashJoin" in line
                break


def test_hash_split_group_coherent_deterministic(spark):
    """hash_split must (a) assign every row keyed on conv_id the same split
    as every other row of that conv (leakage guard), (b) be identical across
    repeated runs and partitionings, (c) approximate the weights, and (d)
    never migrate existing rows when new data is appended."""
    from professional_services_data_validator_spark.operators.sampling import (
        hash_split,
    )

    rows = [(f"c{i}", t) for i in range(300) for t in range(3)]
    df = spark.createDataFrame(rows, ["conv_id", "turn_idx"])
    out = hash_split(
        df, ["conv_id"], {"train": 0.8, "val": 0.1, "test": 0.1}
    )
    per_conv = (
        out.groupBy("conv_id")
        .agg({"split": "count"})
        .count()
    )
    distinct_pairs = out.select("conv_id", "split").distinct().count()
    assert distinct_pairs == 300 == per_conv  # one split per conv

    frac = {
        r["split"]: r["n"] / 900
        for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()
    }
    assert 0.7 < frac["train"] < 0.9
    assert frac.get("val", 0) > 0 and frac.get("test", 0) > 0

    again = {
        (r["conv_id"], r["turn_idx"]): r["split"]
        for r in hash_split(
            df.repartition(7), ["conv_id"],
            {"train": 0.8, "val": 0.1, "test": 0.1},
        ).collect()
    }
    first = {(r["conv_id"], r["turn_idx"]): r["split"] for r in out.collect()}
    assert first == again

    # append stability: the original rows keep their assignment
    bigger = spark.createDataFrame(
        rows + [(f"x{i}", 0) for i in range(100)], ["conv_id", "turn_idx"]
    )
    grown = {
        (r["conv_id"], r["turn_idx"]): r["split"]
        for r in hash_split(
            bigger, ["conv_id"], {"train": 0.8, "val": 0.1, "test": 0.1}
        ).collect()
        if not r["conv_id"].startswith("x")
    }
    assert grown == first


def test_hash_split_no_shuffle_and_seed_sensitivity(spark):
    """Map-only projection: no Exchange in the plan; a different seed gives
    a different (but still valid) assignment for at least one key."""
    from professional_services_data_validator_spark.operators.sampling import (
        hash_split,
    )

    df = spark.range(200).withColumnRenamed("id", "k")
    out = hash_split(df, ["k"], {"a": 0.5, "b": 0.5})
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan

    s1 = {r["k"]: r["split"] for r in out.collect()}
    s2 = {
        r["k"]: r["split"]
        for r in hash_split(df, ["k"], {"a": 0.5, "b": 0.5}, seed=7).collect()
    }
    assert s1 != s2
    assert set(s2.values()) <= {"a", "b"}


def test_pack_sequences_offset_binning(spark):
    """Within one shard, docs laid end-to-end in id order: bin_id is the
    budget-quotient of the exclusive prefix sum, offset_in_bin its
    remainder; bins fill to the budget with at most one straddling doc."""
    from professional_services_data_validator_spark.operators.text import (
        pack_sequences,
    )

    df = spark.createDataFrame(
        [(i, n) for i, n in enumerate([40, 30, 40, 50, 10])],
        ["doc_id", "n_tokens"],
    )
    rows = {
        r["id"]: r
        for r in pack_sequences(
            df, "doc_id", "n_tokens", budget=100, num_shards=1
        ).collect()
    }
    # prefix sums: 0, 40, 70, 110, 160
    assert [rows[i]["bin_id"] for i in range(5)] == [0, 0, 0, 1, 1]
    assert [rows[i]["offset_in_bin"] for i in range(5)] == [0, 40, 70, 10, 60]
    assert all(r["shard"] == rows[0]["shard"] for r in rows.values())

    import pytest

    with pytest.raises(ValueError, match="budget"):
        pack_sequences(df, "doc_id", "n_tokens", budget=0)


def test_pack_sequences_sharded_parallel_windows(spark):
    """Sharding must split the window into independent partitions (no
    single-reducer global window) while keeping every doc assigned exactly
    once and per-shard offsets consistent."""
    from professional_services_data_validator_spark.operators.text import (
        pack_sequences,
    )

    df = spark.range(1000).select(
        F.col("id").alias("doc_id"), (F.col("id") % 97 + 1).alias("n_tokens")
    )
    out = pack_sequences(df, "doc_id", "n_tokens", budget=256, num_shards=8)
    rows = out.collect()
    assert len(rows) == 1000 and len({r["id"] for r in rows}) == 1000
    shards = {r["shard"] for r in rows}
    assert shards <= set(range(8)) and len(shards) > 1
    # replay each shard's cumsum on the driver and compare
    by_shard = {}
    for r in sorted(rows, key=lambda r: (r["shard"], r["id"])):
        cum = by_shard.get(r["shard"], 0)
        assert r["bin_id"] == cum // 256 and r["offset_in_bin"] == cum % 256
        by_shard[r["shard"]] = cum + r["n_tokens"]
    # plan: the window sort is preceded by a hash exchange on shard, not a
    # single-partition exchange
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan


def test_corpus_curation_verdict_composition(spark, sf_dir):
    """The flagship composition's keep flag must equal the conjunction of
    its three published criteria row-by-row, cover exactly the corpus
    split, and have every filter actually firing on the fixture."""
    import __spark_entry__ as entry

    rows = entry.queries()["corpus_curation"](spark, sf_dir).collect()
    n_corpus = (
        _docs(spark, sf_dir).filter(F.col("doc_id") % 37 != 0).count()
    )
    assert len(rows) == n_corpus
    for r in rows:
        assert r["keep"] == (
            r["is_canonical"]
            and not r["is_contaminated"]
            and r["quality_score"] >= 0.55
        )
    assert any(not r["is_canonical"] for r in rows)
    assert any(r["is_contaminated"] for r in rows)
    assert any(r["quality_score"] < 0.55 for r in rows)
    assert any(r["keep"] for r in rows)


def test_stratified_sample_exact_and_deterministic(spark):
    """Per-group top-n by hash: exactly n rows per group (when the group
    has >= n rows), identical with and without the threshold prefilter,
    and invariant under repartitioning."""
    from professional_services_data_validator_spark.operators.sampling import (
        stratified_sample,
    )

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3)) for i in range(600)] + [(9999, "tiny")],
        ["doc_id", "grp"],
    )
    full = stratified_sample(
        df, "grp", ["doc_id"], n_per_group=10, prefilter=False
    )
    fast = stratified_sample(
        df.repartition(13), "grp", ["doc_id"], n_per_group=10
    )
    a = {(r["grp"], r["sample_rank"]): r["doc_id"] for r in full.collect()}
    b = {(r["grp"], r["sample_rank"]): r["doc_id"] for r in fast.collect()}
    assert a == b  # prefilter path == exact path, any partitioning
    per = {}
    for (g, _), _id in a.items():
        per[g] = per.get(g, 0) + 1
    assert per == {"g0": 10, "g1": 10, "g2": 10, "tiny": 1}
    # ranks are 1..n dense per group
    for g, n in per.items():
        assert {r for (gg, r) in a if gg == g} == set(range(1, n + 1))


def test_stratified_sample_prefilter_bounds_window_input(spark):
    """The scale claim: with prefilter, the window's input is the threshold
    survivors (~3n+20 per group), not the full group — verified by counting
    survivors directly; and the counts side is broadcast."""
    from professional_services_data_validator_spark.operators.sampling import (
        stratified_sample,
    )

    df = spark.range(20000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("g"), (F.col("id") % 2).cast("string")).alias("grp"),
    )
    out = stratified_sample(df, "grp", ["doc_id"], n_per_group=5)
    assert out.count() == 10
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan
    # replicate the prefilter predicate: survivors must be ~3n+20 per
    # group, not the 10000-row groups themselves
    surv = df.filter(
        F.conv(
            F.substring(
                F.md5(F.concat_ws("|", F.lit("42"), F.col("doc_id").cast("string"))),
                1, 8,
            ), 16, 10,
        ).cast("long")
        < (35.0 / 10000) * float(16**8)
    ).count()
    assert surv < 400  # ~70 expected; the window never sees the full groups


def test_embedding_dedup_clusters_invariants(spark, sf_dir):
    """Embedding-side clustering composition: every vector assigned once,
    exactly one canonical (= min vec_id) per cluster, sizes consistent."""
    import __spark_entry__ as entry

    rows = entry.queries()["embedding_dedup_clusters"](
        spark, sf_dir
    ).collect()
    n = _emb(spark, sf_dir).count()
    assert len(rows) == n
    by_c = {}
    for r in rows:
        by_c.setdefault(r["cluster_id"], []).append(r)
    for cid, grp in by_c.items():
        assert min(x["vec_id"] for x in grp) == cid
        assert sum(x["is_canonical"] for x in grp) == 1
        assert all(x["cluster_size"] == len(grp) for x in grp)


def test_unigram_logperplexity_hand_computed(spark):
    """Tiny corpus with a hand-computable unigram LM: common-token docs
    score lower cross-entropy than rare-token docs; empty docs get NULL;
    values match the closed form to 6dp."""
    import math

    from professional_services_data_validator_spark.operators.text import (
        unigram_logperplexity,
    )

    # corpus tokens: a x4, b x2 -> N=6, V=2; p(a)=(4+.5)/(6+1)=4.5/7,
    # p(b)=(2+.5)/7=2.5/7
    docs = spark.createDataFrame(
        [(1, "a a"), (2, "a a b"), (3, "b"), (4, "   ")],
        ["doc_id", "text"],
    )
    rows = {
        r["id"]: r
        for r in unigram_logperplexity(docs, "doc_id", "text").collect()
    }
    assert len(rows) == 4
    la, lb = -math.log(4.5 / 7), -math.log(2.5 / 7)
    assert rows[1]["n_tokens"] == 2
    assert rows[1]["logppl"] == round(la, 6)
    assert rows[2]["logppl"] == round((2 * la + lb) / 3, 6)
    assert rows[3]["logppl"] == round(lb, 6)
    assert rows[1]["logppl"] < rows[2]["logppl"] < rows[3]["logppl"]
    assert rows[4]["n_tokens"] == 0 and rows[4]["logppl"] is None


# ---------------------------------------------------------------------------
# split_balance (operators/sampling.py)
# ---------------------------------------------------------------------------


def test_split_balance_totals_and_zero_jsd(spark):
    """Row counts partition the input; identical per-key category mixes
    give cat_jsd == 0 for every split."""
    from professional_services_data_validator_spark.operators.sampling import (
        split_balance,
    )

    # every key carries the same (a, b) category pair -> every split's
    # category distribution equals the corpus's exactly
    rows = [(f"k{i}", c) for i in range(40) for c in ("a", "b")]
    df = spark.createDataFrame(rows, "key string, cat string")
    out = split_balance(
        df, ["key"], {"train": 0.5, "val": 0.5}, F.col("cat"), seed=7
    ).collect()
    assert sum(r["n_rows"] for r in out) == 80
    assert sum(r["n_keys"] for r in out) == 40
    assert abs(sum(r["row_frac"] for r in out) - 1.0) < 1e-6
    for r in out:
        assert r["cat_jsd"] == 0.0
        assert r["n_rows"] == 2 * r["n_keys"]  # group coherence


def test_split_balance_flags_missing_category(spark):
    """A category concentrated in one split raises that split's JSD and
    the absent side still contributes its corpus term (grid completion)."""
    from professional_services_data_validator_spark.operators.sampling import (
        split_balance,
    )

    # find a key that lands in 'val' under this seed, give it a unique
    # category; all other keys get 'common'
    from professional_services_data_validator_spark.operators.sampling import (
        hash_split,
    )

    base = spark.createDataFrame(
        [(f"k{i}",) for i in range(60)], "key string"
    )
    splits = {
        r["key"]: r["split"]
        for r in hash_split(
            base, ["key"], {"train": 0.5, "val": 0.5}, seed=7
        ).collect()
    }
    val_key = next(k for k, s in splits.items() if s == "val")
    rows = [
        (k, "rare" if k == val_key else "common") for k in splits
    ]
    df = spark.createDataFrame(rows, "key string, cat string")
    out = {
        r["split"]: r["cat_jsd"]
        for r in split_balance(
            df, ["key"], {"train": 0.5, "val": 0.5}, F.col("cat"), seed=7
        ).collect()
    }
    # 'rare' exists only in val: train's JSD must be > 0 (it misses a
    # corpus category), and val's too (it over-represents it)
    assert out["train"] > 0.0 and out["val"] > 0.0


def test_split_balance_exact_vs_hll_keys(spark):
    from professional_services_data_validator_spark.operators.sampling import (
        split_balance,
    )

    rows = [(f"k{i}", "x") for i in range(50)]
    df = spark.createDataFrame(rows, "key string, cat string")
    exact = {
        r["split"]: r["n_keys"]
        for r in split_balance(
            df, ["key"], {"a": 0.5, "b": 0.5}, F.col("cat")
        ).collect()
    }
    approx = {
        r["split"]: r["n_keys"]
        for r in split_balance(
            df, ["key"], {"a": 0.5, "b": 0.5}, F.col("cat"),
            exact_keys=False,
        ).collect()
    }
    for s, n in exact.items():
        assert abs(approx[s] - n) <= max(2, 0.1 * n)  # HLL within 10%


# ---------------------------------------------------------------------------
# group_exact_dedup (operators/dedup.py)
# ---------------------------------------------------------------------------


def test_group_exact_dedup_flags_identical_conversations(spark):
    from professional_services_data_validator_spark.operators.dedup import (
        group_exact_dedup,
    )

    rows = [
        ("a", 0, "hi"), ("a", 1, "there"),
        ("b", 0, "hi"), ("b", 1, "there"),      # exact copy of a
        ("c", 0, "there"), ("c", 1, "hi"),      # same texts, swapped order
        ("d", 0, "hi"),                         # prefix only
    ]
    df = spark.createDataFrame(rows, "conv string, idx int, text string")
    out = group_exact_dedup(df, ["conv"], "idx", "text").collect()
    # only b is a true ordered duplicate; keeper 'a' sorts first
    assert [(r["conv"], r["keep_rank"]) for r in out] == [("b", 2)]


def test_group_exact_dedup_order_awareness(spark):
    """Same multiset of texts under different turn indexes is NOT a
    duplicate (the order column is hashed into every fold term)."""
    from professional_services_data_validator_spark.operators.dedup import (
        group_exact_dedup,
    )

    rows = [
        ("a", 0, "x"), ("a", 1, "y"),
        ("b", 1, "x"), ("b", 0, "y"),
    ]
    df = spark.createDataFrame(rows, "conv string, idx int, text string")
    assert group_exact_dedup(df, ["conv"], "idx", "text").count() == 0


def test_cross_split_leakage_flags_only_cross_split_neardups(spark):
    from professional_services_data_validator_spark.operators.sampling import (
        cross_split_leakage,
        hash_split,
    )

    # near-identical doc pairs with PAIR-UNIQUE vocabulary (so only
    # (i, i+1) are near-dups of each other); the fixture asserts EXACTLY
    # the cross-split subset of those pairs is flagged
    rows = []
    for i in range(0, 40, 2):
        base = " ".join(f"w{i}x{j}" for j in range(12))
        rows.append((i, base + f" tail{i}"))
        rows.append((i + 1, base + f" tail{i + 1}"))  # near-dup of i
    df = spark.createDataFrame(rows, "doc_id long, text string")
    weights = {"train": 0.8, "val": 0.1, "test": 0.1}
    splits = {
        r["doc_id"]: r["split"]
        for r in hash_split(df, ["doc_id"], weights).collect()
    }
    expected = {
        (i, i + 1)
        for i in range(0, 40, 2)
        if splits[i] != splits[i + 1]
    }
    got = {
        (r["id_a"], r["id_b"]): (r["split_a"], r["split_b"])
        for r in cross_split_leakage(
            df, "doc_id", "text", ["doc_id"], weights
        ).collect()
    }
    assert set(got) == expected and len(expected) > 0
    for (a, b), (sa, sb) in got.items():
        assert (sa, sb) == (splits[a], splits[b]) and sa != sb


def test_embedding_novelty_cross_table(spark):
    """New vector identical to a corpus vector is NOT novel (max_cos 1,
    nearest = that corpus id); an orthogonal new vector IS novel; ties on
    rounded cosine break toward the larger corpus id."""
    from professional_services_data_validator_spark.operators.similarity import (
        embedding_novelty,
    )

    dim = 8
    v = [1.0] * dim
    w = [1.0] * 4 + [-1.0] * 4  # orthogonal to v
    old = spark.createDataFrame(
        [(10, v), (11, v), (12, w)], "vec_id long, embedding array<double>"
    )
    new = spark.createDataFrame(
        [(1, v), (2, [-x for x in w])],  # 2 is orthogonal to v, -w to w
        "vec_id long, embedding array<double>",
    )
    out = {r.id: r for r in embedding_novelty(
        new, old, bits=8, max_hamming=1, min_cosine=0.5
    ).collect()}
    r1 = out[1]
    assert not r1.is_novel
    assert r1.n_matches == 2  # both identical corpus copies matched
    assert abs(r1.max_cos - 1.0) < 1e-9
    assert r1.nearest_id == 11  # cos tie (1.0, 1.0) -> larger corpus id
    r2 = out[2]
    # -w: orthogonal to v (cos 0), anti-parallel to w (cos -1) -> novel
    assert r2.is_novel and r2.n_matches == 0
    assert r2.max_cos is None and r2.nearest_id is None


def test_star_components_chain_and_singletons(spark):
    """Large/small-star CC crosses multi-hop chains and leaves edgeless
    nodes as their own singletons — the identical contract to the
    propagation resolver on the canonical chain fixture."""
    from professional_services_data_validator_spark.operators.dedup import (
        connected_components_star,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 5), (10, 11)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame(
        [(i,) for i in [1, 2, 3, 4, 5, 10, 11, 99]], ["id"]
    )
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components_star(pairs, nodes).collect()
    }
    assert got == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1, 10: 10, 11: 10, 99: 99}


def test_star_components_logarithmic_rounds_on_deep_chain(spark):
    """The star algorithm's reason to exist: a 33-node path has diameter 32,
    so min-label propagation needs ~32 rounds — alternating star must
    resolve it in O(log n) (each round halves tree height). max_iter=10
    would make propagation raise; star converges well inside it."""
    from professional_services_data_validator_spark.operators.dedup import (
        connected_components_star,
    )

    n = 33
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components_star(pairs, nodes, max_iter=10).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_star_components_equivalent_to_propagation_random_graphs(spark):
    """Property: the two resolvers are drop-in interchangeable — identical
    (id, cluster_id) labeling on seeded random graphs mixing cliques,
    chains, and singletons (the shapes LSH/span-link dup graphs take)."""
    import random

    from professional_services_data_validator_spark.operators.dedup import (
        connected_components,
        connected_components_star,
    )

    for seed in (7, 23, 101):
        rng = random.Random(seed)
        n = 60
        edges = set()
        # random sparse edges + one long chain + one clique
        for _ in range(40):
            a, b = rng.randrange(n), rng.randrange(n)
            if a != b:
                edges.add((min(a, b), max(a, b)))
        for i in range(45, 55):
            edges.add((i, i + 1))
        for a in (30, 31, 32):
            for b in (31, 32, 33):
                if a < b:
                    edges.add((a, b))
        pairs = spark.createDataFrame(sorted(edges), ["id_a", "id_b"])
        nodes = spark.createDataFrame([(i,) for i in range(n)], ["id"])
        prop = {
            r["id"]: r["cluster_id"]
            for r in connected_components(pairs, nodes).collect()
        }
        star = {
            r["id"]: r["cluster_id"]
            for r in connected_components_star(pairs, nodes).collect()
        }
        assert star == prop, f"seed {seed}: star != propagation"


def test_star_components_empty_pairs(spark):
    """No edges: every node is its own cluster, loop exits on round one."""
    from professional_services_data_validator_spark.operators.dedup import (
        connected_components_star,
    )

    pairs = spark.createDataFrame([], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in (3, 8)], ["id"])
    got = {
        r["id"]: r["cluster_id"]
        for r in connected_components_star(pairs, nodes).collect()
    }
    assert got == {3: 3, 8: 8}


def test_star_restores_conf_on_midloop_failure(spark, monkeypatch):
    """VERDICT r4 #3: a Spark failure INSIDE a star round must not leave
    the session at the edge-sized shuffle-partition count (or the pinned
    AQE initialPartitionNum) — the try/finally the propagation resolver
    already had. Failure is injected by making the loop's localCheckpoint
    raise; the pre-loop edges checkpoint (call #1) is left intact so the
    error lands mid-loop, after the conf was mutated."""
    # patch the CONCRETE class: in Spark 4 pyspark.sql.DataFrame is the
    # abstract base and classic.DataFrame overrides localCheckpoint
    try:
        from pyspark.sql.classic.dataframe import DataFrame
    except ImportError:  # pragma: no cover - older pyspark
        from pyspark.sql import DataFrame

    from professional_services_data_validator_spark.operators.dedup import (
        connected_components_star,
    )

    ipn_key = "spark.sql.adaptive.coalescePartitions.initialPartitionNum"
    before_parts = spark.conf.get("spark.sql.shuffle.partitions")
    before_ipn = spark.conf.get(ipn_key, None)

    import pytest

    calls = {"n": 0}
    orig = DataFrame.localCheckpoint

    def flaky(self, *a, **kw):
        calls["n"] += 1
        if calls["n"] >= 2:  # first call = pre-loop edges checkpoint
            raise RuntimeError("injected mid-loop executor failure")
        return orig(self, *a, **kw)

    monkeypatch.setattr(DataFrame, "localCheckpoint", flaky)
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 10, 11)], ["id"])
    with pytest.raises(RuntimeError, match="injected"):
        connected_components_star(pairs, nodes).collect()
    assert calls["n"] >= 2, "failure was not injected inside the loop"
    monkeypatch.undo()
    assert spark.conf.get("spark.sql.shuffle.partitions") == before_parts
    assert spark.conf.get(ipn_key, None) == before_ipn


def test_dedup_ops_leave_no_cachemanager_entries(spark, sf_dir):
    """VERDICT r4 #4: ngram_jaccard_pairs, simhash_near_pairs and the star
    resolver previously persisted frames with no release point — repeated
    executions in a long-lived session accumulated MEMORY_AND_DISK cache.
    All three now use ContextCleaner-managed localCheckpoint; after each
    operator's action completes the SQL CacheManager must be empty."""
    from professional_services_data_validator_spark.operators.dedup import (
        dedup_clusters,
        ngram_jaccard_pairs,
        simhash,
        simhash_near_pairs,
    )

    docs = _docs(spark, sf_dir).limit(200)
    spark.catalog.clearCache()

    ngram_jaccard_pairs(docs, "doc_id", "text").count()
    sim = simhash(docs, "doc_id", "text")
    simhash_near_pairs(sim).count()
    dedup_clusters(docs, "doc_id", "text", components="star").count()

    cm = spark._jsparkSession.sharedState().cacheManager()
    assert cm.isEmpty(), "an operator left a CacheManager entry behind"
