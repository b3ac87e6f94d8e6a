"""Pipeline operators: dedup, similarity, text, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from adtl_spark.operators import dedup as D
from adtl_spark.operators import multimodal as M
from adtl_spark.operators import similarity as S
from adtl_spark.operators import text as X


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "the quick brown fox leaps over the lazy dog"),  # near dup
        (4, "completely different text about spark engines and shuffles"),
        (5, "El rápido zorro marrón salta sobre el perro"),
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_dedup_exact(spark, docs):
    out = D.dedup_exact(docs).orderBy("canonical_id").collect()
    by_canonical = {r["canonical_id"]: r["n_copies"] for r in out}
    assert by_canonical[1] == 2  # docs 1 and 2 collapse
    assert by_canonical[3] == 1


def test_ngram_jaccard_pairs(spark, docs):
    out = D.dedup_ngram_jaccard(
        docs, threshold=0.3, n=3, max_doc_freq_frac=None
    ).collect()
    pairs = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out}
    assert pairs[(1, 2)] == 1.0  # identical docs
    # one word changed in a 9-word doc: 4 shared trigrams / 10 total = 0.4
    assert pairs[(1, 3)] == 0.4
    assert all(a < b for a, b in pairs)


def test_minhash_identical_docs_estimate_one(spark, docs):
    out = D.dedup_minhash_lsh(docs, k=16, bands=4, threshold=0.5, n=3).collect()
    pairs = {(r["id_a"], r["id_b"]): r["est_jaccard"] for r in out}
    assert pairs[(1, 2)] == 1.0


def test_simhash_near_duplicates_close(spark, docs):
    sigs = {r["doc_id"]: r["simhash"] for r in D.simhash(docs).collect()}
    assert sigs[1] == sigs[2]  # identical text -> identical signature
    ham13 = bin(sigs[1] ^ sigs[3]).count("1")
    ham14 = bin(sigs[1] ^ sigs[4]).count("1")
    assert ham13 < ham14  # near-dup closer than unrelated


def test_simhash_pairs_blocking(spark, docs):
    out = D.simhash_pairs(docs, max_hamming=10).collect()
    pairs = {(r["id_a"], r["id_b"]): r["hamming"] for r in out}
    assert pairs[(1, 2)] == 0


def test_cosine_topk_self_similarity(spark):
    rows = [
        (1, [1.0, 0.0, 0.0]),
        (2, [0.9, 0.1, 0.0]),
        (3, [0.0, 1.0, 0.0]),
        (4, [0.0, 0.0, 1.0]),
    ]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") == 1)
    out = S.cosine_topk(emb, queries, k=2).collect()
    assert [r["corpus_id"] for r in out] == [2, 3]
    assert out[0]["cos"] > 0.99


def test_ann_lsh_buckets_match_exact_for_clear_neighbors(spark):
    rows = [(i, [1.0 if j == i % 4 else 0.01 * i for j in range(8)]) for i in range(20)]
    emb = spark.createDataFrame(rows, ["vec_id", "embedding"])
    queries = emb.filter(F.col("vec_id") < 2)
    out = S.ann_lsh(emb, queries, dim=8, k=3, planes=4)
    assert out.count() > 0  # buckets non-empty, pipeline runs end-to-end


def test_text_operators_shapes(spark, docs):
    stats = X.token_stats(docs).collect()
    assert all(r["n_tokens_ws"] > 0 for r in stats)
    quality = {r["doc_id"]: r for r in X.quality_score(docs).collect()}
    assert 0 <= quality[1]["quality"] <= 1
    # doc 1 has English stopwords; doc 5 is Spanish
    langs = {r["doc_id"]: r["lang_pred"] for r in X.lang_id(docs).collect()}
    assert langs[1] == "en"
    assert langs[5] == "es"
    fps = {r["doc_id"]: r["fingerprint"] for r in X.fingerprint(docs).collect()}
    assert fps[1] == fps[2]


def test_multimodal_feature_extraction(spark):
    media = M.synthetic_media(spark, n=12)
    feats = M.extract_image_features(media).collect()
    assert len(feats) == 12
    by_id = {r["media_id"]: r for r in feats}
    assert len(by_id[0]["feature"]) == 8
    assert by_id[0]["payload_bytes"] > 0
    assert 0 < by_id[0]["entropy_estimate"] <= 1.0
    # deterministic: same payload -> same feature
    again = {r["media_id"]: r for r in M.extract_image_features(media).collect()}
    assert again[0]["feature"] == by_id[0]["feature"]


def test_ppm_decode_roundtrip():
    """The native P6 decoder recovers the exact pixels synthetic_ppm
    wrote; malformed payloads fail loudly."""
    payload = M.synthetic_ppm(6, 4, seed=11)
    w, h, rgb = M.decode_ppm(payload)
    assert (w, h) == (6, 4) and len(rgb) == 6 * 4 * 3
    assert M.decode_ppm(payload) == (w, h, rgb)  # deterministic
    with pytest.raises(ValueError):
        M.decode_ppm(payload[:-5])  # truncated pixel data
    with pytest.raises(ValueError):
        M.decode_ppm(b"P5\n1 1\n255\n\x00")  # not P6


def test_wav_decode_roundtrip():
    payload = M.synthetic_wav(320, seed=3)
    rate, channels, bits, pcm = M.decode_wav(payload)
    assert (rate, channels, bits) == (16000, 1, 16)
    assert len(pcm) == 320 * 2
    with pytest.raises(ValueError):
        M.decode_wav(b"RIFF\x00\x00\x00\x00DATA")  # not WAVE


def test_multimodal_real_decoder_decodes_ppm(spark):
    """Real decode path end-to-end through the Arrow mapInPandas
    pipeline: PPM payloads produce decode-derived features (width/height
    channels match the metadata), deterministically."""
    media = M.synthetic_media(spark, n=12).filter("kind = 'image'")
    feats = {
        r["media_id"]: r
        for r in M.extract_image_features(media, use_real_decoder=True).collect()
    }
    meta = {r["media_id"]: r["meta"] for r in media.collect()}
    assert feats
    for mid, r in feats.items():
        f = r["feature"]
        assert len(f) == 8
        assert abs(f[0] - meta[mid]["width"] / 4096.0) < 1e-6
        assert abs(f[1] - meta[mid]["height"] / 4096.0) < 1e-6
        assert 0.0 <= f[5] <= 1.0 and f[6] <= f[5] <= f[7]
    again = {
        r["media_id"]: r["feature"]
        for r in M.extract_image_features(media, use_real_decoder=True).collect()
    }
    assert all(again[m] == feats[m]["feature"] for m in feats)


def test_multimodal_compressed_formats_png_jpeg_real_mp3_stubbed():
    # PNG and JPEG now decode natively (stdlib zlib / jpeg_lite —
    # tests/test_round10.py pins both); garbage bodies must fail loudly
    with pytest.raises(ValueError):
        M.decode_image(b"\x89PNG\r\n\x1a\n....")
    with pytest.raises(ValueError):
        M.decode_image(b"\xff\xd8\xff....")
    # Layer III stays the one env-blocked stub (Layer I/II now decode
    # natively via mp2_lite); junk behind an ID3 tag fails loudly
    with pytest.raises(NotImplementedError):
        M.decode_audio(M.build_mpeg_audio([128], layer=3))
    with pytest.raises(ValueError):
        M.decode_audio(b"ID3....")


def test_multimodal_audio_features(spark):
    media = M.synthetic_media(spark, n=12).filter("kind = 'audio'")
    feats = {
        r["media_id"]: r for r in M.extract_audio_features(media).collect()
    }
    meta = {r["media_id"]: r["meta"] for r in media.collect()}
    assert feats
    for mid, r in feats.items():
        assert r["sample_rate"] == 16000 and r["bits"] == 16
        assert r["duration_ms"] == meta[mid]["duration_ms"]
        assert r["peak"] is not None and 0 < r["peak"] <= 12000
        assert r["rms"] is not None and 0 < r["rms"] <= r["peak"]


def test_frame_sample_plan(spark):
    media = M.synthetic_media(spark, n=12)
    plan = M.frame_sample_plan(media, every_ms=1000)
    rows = plan.collect()
    assert all(r["ts_ms"] == r["frame_idx"] * 1000 for r in rows)
    # every video generates duration/1000 frames
    videos = {r["media_id"] for r in rows}
    assert videos == {i for i in range(12) if i % 3 == 2}


def test_repartition_by_bytes(spark):
    media = M.synthetic_media(spark, n=32)
    out = M.repartition_by_bytes(media, target_partition_bytes=1024)
    assert out.count() == 32
    assert out.rdd.getNumPartitions() >= 2


def test_cluster_pairs_connected_components(spark):
    # components: {1,2,3,4} via chain, {10,11}, singletons absent from pairs
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11)], ["id_a", "id_b"]
    )
    out = {r["doc_id"]: r["canonical_id"] for r in D.cluster_pairs(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10}


def test_cluster_pairs_long_chain_converges(spark):
    n = 40
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n)], ["id_a", "id_b"]
    )
    out = {r["doc_id"]: r["canonical_id"] for r in D.cluster_pairs(pairs).collect()}
    assert set(out.values()) == {0}
    assert len(out) == n + 1


def test_salted_join_matches_plain_join(spark):
    from adtl_spark.operators.joins import salted_join

    fact = spark.createDataFrame(
        [(k, i) for i in range(50) for k in ("hot", f"k{i % 5}")], ["key", "v"]
    )
    dim = spark.createDataFrame(
        [("hot", "H"), ("k0", "A"), ("k1", "B"), ("k9", "Z")], ["key", "label"]
    )
    plain = fact.join(dim, "key").groupBy("key", "label").count()
    salted = salted_join(fact, dim, "key", salt_buckets=8).groupBy("key", "label").count()
    assert sorted(map(tuple, plain.collect())) == sorted(map(tuple, salted.collect()))
    left_plain = fact.join(dim, "key", "left").count()
    left_salted = salted_join(fact, dim, "key", salt_buckets=8, how="left").count()
    assert left_plain == left_salted


def test_cluster_pairs_reliable_checkpoint(spark, tmp_path):
    """spark.adtl.reliableCheckpoint plus a checkpoint dir switches the
    lineage cuts to reliable checkpoint() files (executor-loss-safe on a
    real cluster) with identical results."""
    from adtl_spark.session import RELIABLE_CKPT_CONF

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"]
    )
    spark.sparkContext.setCheckpointDir(str(tmp_path / "ckpt"))
    spark.conf.set(RELIABLE_CKPT_CONF, "true")
    try:
        out = {
            r["doc_id"]: r["canonical_id"]
            for r in D.cluster_pairs(pairs).collect()
        }
    finally:
        spark.conf.unset(RELIABLE_CKPT_CONF)
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10}
    ckpt_files = list((tmp_path / "ckpt").rglob("*"))
    assert ckpt_files  # reliable checkpoints actually hit the directory


def test_quality_repetition_keep_any_input_columns(spark):
    """Input columns named like the filter's internal ones come back
    untouched and do not change which documents are kept."""
    plain = spark.createDataFrame(
        [
            (1, "a good document with plenty of distinct readable words here"),
            (2, "spam spam spam spam spam spam spam spam spam spam"),
            (3, "another reasonable document about entirely different topics"),
        ],
        "doc_id long, text string",
    )
    clashing = plain.select(
        "*",
        F.lit("x").alias("__toks"),
        F.col("doc_id").alias("__q"),
        F.lit(1).alias("__bg"),
    )
    keep = sorted(
        r["doc_id"] for r in X.quality_repetition_keep(plain, 0.3, 0.2).collect()
    )
    assert keep == [1, 3]
    got = X.quality_repetition_keep(clashing, 0.3, 0.2)
    assert got.columns == clashing.columns
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, clashing.filter(F.col("doc_id").isin(keep)).collect())
    )


def test_dedup_caches_released(spark):
    """dedup_ngram_jaccard / dedup_minhash_lsh must not leak persisted
    intermediates: after the call, only the (small) materialized result may
    remain cached."""
    docs = spark.createDataFrame(
        [(i, f"alpha beta gamma delta epsilon {i % 7} zeta eta theta") for i in range(40)],
        "doc_id long, text string",
    )
    jsc = spark.sparkContext._jsc.sc()
    before = jsc.getPersistentRDDs().size()
    D.dedup_ngram_jaccard(docs, threshold=0.5, n=3).count()
    D.dedup_minhash_lsh(docs, k=8, bands=2, threshold=0.5, n=3).count()
    after = jsc.getPersistentRDDs().size()
    # each call may leave its localCheckpoint-ed result block; the four
    # (ngram) + one (minhash) working caches must be gone
    assert after - before <= 2


def test_salted_join_deterministic(spark):
    """The salt must be a deterministic function of the fact row (task
    retries re-evaluate it; a random component would re-bucket rows and,
    worse, block plan reuse).  Same input -> identical salted output, and
    the physical plan carries no non-deterministic expression."""
    from adtl_spark.operators.joins import salted_join

    fact = spark.createDataFrame(
        [(f"k{i % 3}", i) for i in range(30)], ["key", "v"]
    )
    dim = spark.createDataFrame([("k0", "A"), ("k1", "B")], ["key", "label"])
    a = sorted(map(tuple, salted_join(fact, dim, "key", 4).collect()))
    b = sorted(map(tuple, salted_join(fact, dim, "key", 4).collect()))
    assert a == b
    plan = salted_join(fact, dim, "key", 4)._jdf.queryExecution().executedPlan().toString()
    assert "monotonically_increasing_id" not in plan


def test_asof_join_ignores_null_timestamps(spark):
    """A right row with a null timestamp is never a match (range semantics:
    r.ts <= l.ts is unknown for null); a null-time LEFT row keeps its row
    with a null payload."""
    from adtl_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, None)], "event_id long, user_id long, ts long"
    )
    right = spark.createDataFrame(
        [(101, 10, None, 9.0), (102, 10, 50, 1.0)],
        "event_id long, user_id long, ts long, value double",
    )
    out = {
        r["event_id"]: (r["matched_event_id"], r["matched_value"])
        for r in asof_join(
            left, right, "ts", "user_id", right_cols=["event_id", "value"]
        ).collect()
    }
    assert out[1] == (102, 1.0)   # null-ts right row 101 must not win
    assert out[2] == (None, None)  # null-ts left row matches nothing
    assert len(out) == 2


def test_ann_ivf_probes_find_near_neighbors(spark):
    """IVF with enough probes must agree with exact top-k on a clustered
    dataset; with 1 probe it returns a subset of the exact ranking's ids
    per query (cells only shrink the candidate set)."""
    import math

    rows = []
    for cluster in range(4):
        base = [math.cos(cluster + 1), math.sin(cluster + 1), 0.5 * cluster, 1.0]
        for j in range(6):
            rows.append(
                (cluster * 10 + j, [x + 0.01 * j for x in base])
            )
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    queries = emb.orderBy("vec_id").limit(2)

    exact = {
        (r["query_id"], r["rank"]): r["corpus_id"]
        for r in S.cosine_topk(emb, queries, k=3).collect()
    }
    ivf_all = {
        (r["query_id"], r["rank"]): r["corpus_id"]
        for r in S.ann_ivf(emb, queries, n_centroids=4, n_probe=4, k=3).collect()
    }
    assert ivf_all == exact  # probing every cell == brute force

    # with 1 probe each query still finds its own cluster-mates
    ivf_one = S.ann_ivf(emb, queries, n_centroids=4, n_probe=1, k=3).collect()
    by_q = {}
    for r in ivf_one:
        by_q.setdefault(r["query_id"], []).append(r["corpus_id"])
    for q, ids in by_q.items():
        assert ids and all(abs(i - q) < 10 for i in ids)


def test_asof_join_semantics(spark):
    """Backward as-of: latest right row with rt <= lt per key; equal
    timestamps match; duplicate right timestamps break ties to the highest
    order column; keys with no prior right row yield nulls."""
    from adtl_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 205), (3, 20, 50), (4, 30, 100)],
        "event_id long, user_id long, ts long",
    )
    right = spark.createDataFrame(
        [
            (101, 10, 100, 1.0),   # equal ts as left 1 -> matches
            (102, 10, 200, 2.0),
            (103, 10, 200, 3.0),   # same ts as 102: higher id wins
            (104, 20, 60, 4.0),    # after left 3 -> no match for key 20
        ],
        "event_id long, user_id long, ts long, value double",
    )
    out = {
        r["event_id"]: (r["matched_event_id"], r["matched_value"])
        for r in asof_join(
            left, right, "ts", "user_id",
            right_cols=["event_id", "value"], right_order="event_id",
        ).collect()
    }
    assert out[1] == (101, 1.0)      # <= semantics
    assert out[2] == (103, 3.0)      # tie -> highest right_order
    assert out[3] == (None, None)    # right row is later
    assert out[4] == (None, None)    # key never seen on the right


def test_duplicated_spans_merge_to_maximal(spark):
    """Span dedup: the shared passage is reported as ONE maximal span per
    document at its own token offsets; documents without cross-doc
    repeats report nothing."""
    from adtl_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [
            (1, "u1 u2 s1 s2 s3 s4 s5 u3 u4"),  # shared block at pos 2..6
            (2, "s1 s2 s3 s4 s5 v1 v2"),        # same block at pos 0..4
            (3, "w1 w2 w3 w4 w5 w6 w7"),        # unique
        ],
        "doc_id long, text string",
    )
    out = {
        r["doc_id"]: (r["span_start"], r["span_end"])
        for r in D.duplicated_spans(docs, n=3).collect()
    }
    assert out == {1: (2, 6), 2: (0, 4)}


def test_remove_spans_cuts_flagged_tokens(spark):
    """Span application: flagged token ranges disappear, untouched docs
    survive whitespace-normalized, a fully-covered doc becomes empty."""
    from adtl_spark.operators import dedup as D

    docs = spark.createDataFrame(
        [(1, "a b c d e"), (2, "x  y\tz"), (3, "p q")],
        "doc_id long, text string",
    )
    spans = spark.createDataFrame(
        [(1, 1, 2), (3, 0, 1)], "doc_id long, span_start long, span_end long"
    )
    out = {r["doc_id"]: r["text"] for r in D.remove_spans(docs, spans).collect()}
    assert out == {1: "a d e", 2: "x y z", 3: ""}


def test_bloom_screen_never_misses_exact_hits(spark):
    """The bloom screen is a superset filter: every doc the exact
    decontaminate flags must be flagged by the bloom variant (false
    negatives are impossible by construction); clean docs with disjoint
    vocab stay clean when the filter is sparse."""
    from adtl_spark.operators import corpus as C

    ev = spark.createDataFrame(
        [(100, "the quick brown fox jumps high")], "doc_id long, text string"
    )
    tr = spark.createDataFrame(
        [
            (1, "a quick brown fox ran off"),       # shares 'quick brown fox'
            (2, "zebras graze quietly at dawn"),    # disjoint vocab
            (3, "the quick brown fox jumps high"),  # identical
        ],
        "doc_id long, text string",
    )
    exact = {
        r["doc_id"]: r["contaminated"]
        for r in C.decontaminate(tr, ev, n=3).collect()
    }
    bloom = {
        r["doc_id"]: r["flagged"]
        for r in C.decontaminate_bloom(tr, ev, n=3).collect()
    }
    assert set(bloom) == set(exact)
    for did, hit in exact.items():
        if hit:
            assert bloom[did] == 1, f"false negative on doc {did}"
    assert exact[2] == 0 and bloom[2] == 0  # sparse filter, disjoint vocab


def test_semantic_dedup_keeps_cluster_representatives(spark):
    """SemDeDup: within a cluster, near-identical vectors collapse to the
    lowest id; vectors in different clusters are never compared even if
    similar (the method's documented recall trade-off)."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),   # cluster seed A
        (1, [0.0, 1.0, 0.0, 0.0]),   # cluster seed B
        (2, [0.999, 0.001, 0.0, 0.0]),  # near-dup of 0 -> dropped
        (3, [0.0, 0.998, 0.002, 0.0]),  # near-dup of 1 -> dropped
        (4, [-1.0, 0.0, 0.0, 0.0]),  # opposite of 0: same cluster? cos=-1 survives
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {r["vec_id"] for r in S.semantic_dedup(emb, tau=0.95, k=2, iters=1).collect()}
    assert 0 in out and 1 in out      # representatives survive
    assert 2 not in out and 3 not in out
    assert 4 in out                   # low cosine never collapses


def test_asof_join_direction_variants(spark):
    """Forward: earliest right row with rt >= lt (equal time matches, ties
    to the LOWEST order column); nearest: closer of the two candidates,
    equal distance preferring the backward match; null-time left rows
    never borrow a match from the following frame."""
    from adtl_spark.operators.joins import asof_join

    left = spark.createDataFrame(
        [(1, 10, 100), (2, 10, 205), (3, 20, 50), (4, 30, 100), (5, 10, None)],
        "event_id long, user_id long, ts long",
    )
    right = spark.createDataFrame(
        [
            (101, 10, 100, 1.0),   # equal ts as left 1
            (102, 10, 210, 2.0),
            (103, 10, 210, 3.0),   # same ts as 102
            (104, 10, 200, 4.0),   # 5 before left 2; next is 5 after (tie)
            (105, 20, 60, 5.0),    # only a FOLLOWING row for key 20
        ],
        "event_id long, user_id long, ts long, value double",
    )

    def run(direction):
        return {
            r["event_id"]: r["matched_event_id"]
            for r in asof_join(
                left, right, "ts", "user_id",
                right_cols=["event_id", "value"], right_order="event_id",
                direction=direction,
            ).collect()
        }

    fwd = run("forward")
    assert fwd[1] == 101    # >= semantics: equal time matches
    assert fwd[2] == 102    # tie at ts=210 -> lowest right_order
    assert fwd[3] == 105    # the following row IS the forward match
    assert fwd[4] is None   # key never seen on the right
    assert fwd[5] is None   # null-time left row matches nothing

    near = run("nearest")
    assert near[1] == 101   # distance 0 (backward frame)
    assert near[2] == 104   # |205-200| == |210-205|: tie prefers backward
    assert near[3] == 105   # only forward candidate exists
    assert near[4] is None
    assert near[5] is None


def test_hash_sample_deterministic_and_append_stable(spark):
    from adtl_spark.operators import sampling as SA

    base = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    s1 = set(r[0] for r in SA.hash_sample(base, 0.2).select("doc_id").collect())
    s2 = set(r[0] for r in SA.hash_sample(base, 0.2).select("doc_id").collect())
    assert s1 == s2  # deterministic across runs
    # append-stable: growing the corpus never changes existing decisions
    grown = spark.range(0, 2000).withColumnRenamed("id", "doc_id")
    s3 = set(r[0] for r in SA.hash_sample(grown, 0.2).select("doc_id").collect())
    assert s1 == {x for x in s3 if x < 1000}
    # roughly the requested fraction
    assert 0.1 < len(s1) / 1000 < 0.3
    # a different salt draws an independent sample
    s4 = set(r[0] for r in SA.hash_sample(base, 0.2, salt="other").select("doc_id").collect())
    assert s4 != s1


def test_stratified_sample_exact_k(spark):
    from adtl_spark.operators import sampling as SA

    rows = [(i, "a" if i % 3 else "b") for i in range(90)] + [(1000, "rare")]
    df = spark.createDataFrame(rows, ["doc_id", "lang"]).repartition(8)
    out = SA.stratified_sample(df, "lang", k=5)
    counts = {r["lang"]: r["n"] for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()}
    assert counts == {"a": 5, "b": 5, "rare": 1}  # min(k, |stratum|)
    # deterministic winners regardless of partitioning
    again = SA.stratified_sample(df.repartition(3), "lang", k=5)
    assert set(map(tuple, out.collect())) == set(map(tuple, again.collect()))
    # full rows come back (all original columns)
    assert out.columns == ["doc_id", "lang"]


def test_train_test_split_partitions_corpus(spark):
    from adtl_spark.operators import sampling as SA

    df = spark.range(0, 1000).withColumnRenamed("id", "doc_id")
    out = SA.train_test_split(df, {"train": 0.8, "valid": 0.1, "test": 0.1})
    counts = {r["split"]: r["n"] for r in out.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert sum(counts.values()) == 1000  # total partition, no row dropped
    assert set(counts) == {"train", "valid", "test"}
    assert counts["train"] > counts["valid"] and counts["train"] > counts["test"]
    # assignment is per-row deterministic
    out2 = SA.train_test_split(df, {"train": 0.8, "valid": 0.1, "test": 0.1})
    assert set(map(tuple, out.collect())) == set(map(tuple, out2.collect()))


def test_chunk_documents_covers_text(spark):
    rows = [(1, " ".join(f"t{i}" for i in range(10))), (2, ""), (3, "one")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = X.chunk_documents(df, chunk_tokens=4).collect()
    by_doc = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    assert 2 not in by_doc  # empty doc emits nothing
    c1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["n_tokens"] for r in c1] == [4, 4, 2]
    # chunks reassemble the token stream exactly
    assert " ".join(r["chunk_text"] for r in c1) == rows[0][1]
    assert by_doc[3][0]["chunk_text"] == "one"


def test_redact_pii(spark):
    rows = [
        (1, "write to jane.doe+x@ex-1.co.uk or call +1-415-555-0199 today"),
        (2, "server 192.168.0.1 logged card 4111111111111111"),
        (3, "clean text with the number 42 only"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in X.redact_pii(df).collect()}
    assert "<EMAIL>" in out[1]["text_redacted"] and "<PHONE>" in out[1]["text_redacted"]
    assert "jane" not in out[1]["text_redacted"] and "415" not in out[1]["text_redacted"]
    assert out[1]["n_redactions"] == 2
    assert "<IP>" in out[2]["text_redacted"]
    # the 16-digit card is a phone-class digit run -> redacted by that stage
    assert "4111111111111111" not in out[2]["text_redacted"]
    assert out[2]["n_redactions"] == 2
    assert out[3]["text_redacted"] == rows[2][1] and out[3]["n_redactions"] == 0


def test_repetition_stats(spark):
    rows = [
        (1, "a b a b a b"),            # bigram 'a b' dominates
        (2, "x\ny\nx\nz"),             # one duplicated line of 4
        (3, "unique words only here"),
        (4, "one"),                     # too short for any n-gram
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["doc_id"]: r for r in X.repetition_stats(df).collect()}
    # doc 1: bigrams = [a b, b a, a b, b a, a b] -> top 'a b' 3/5
    assert out[1]["top_bigram_frac"] == 0.6
    # trigrams = [a b a, b a b, a b a, b a b] -> 2/4
    assert out[1]["top_trigram_frac"] == 0.5
    assert out[2]["dup_line_frac"] == 0.25
    assert out[3]["top_bigram_frac"] == round(1 / 3, 4)
    assert out[4]["top_bigram_frac"] == 0.0 and out[4]["top_trigram_frac"] == 0.0


def test_vocab_topk(spark):
    df = spark.createDataFrame(
        [(1, "b a a"), (2, "a b c")], ["doc_id", "text"]
    )
    out = [(r["token"], r["n"]) for r in X.vocab_topk(df, k=2).collect()]
    assert out == [("a", 3), ("b", 2)]


def test_decontaminate_flags_shared_ngrams(spark):
    from adtl_spark.operators import corpus as C

    train = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta"),  # contains eval 5-gram
            (2, "one two three four five six seven"),  # clean
            (3, ""),  # empty doc: its clamped 1-token shingle can't match
        ],
        ["doc_id", "text"],
    )
    ev = spark.createDataFrame(
        [(100, "alpha beta gamma delta epsilon")], ["doc_id", "text"]
    )
    out = {
        r["doc_id"]: (r["n_contaminated"], r["contaminated"])
        for r in C.decontaminate(train, ev, n=5).collect()
    }
    assert out[1] == (1, 1)
    assert out[2] == (0, 0)
    assert out[3] == (0, 0)
    assert len(out) == 3  # every training doc is in the decision table


def test_unigram_logprob_scores(spark):
    import math

    from adtl_spark.operators import corpus as C

    df = spark.createDataFrame(
        [(1, "a a a b"), (2, "a rare"), (3, "")], ["doc_id", "text"]
    )
    out = {r["doc_id"]: r for r in C.unigram_logprob(df, vocab_k=2).collect()}
    # corpus: a=4, b=1, rare=1, total=6; vocab_k=2 keeps {a, b} (tie on
    # count 1 breaks alphabetically), rare is OOV at p=0.5/6
    def q(x):
        return math.floor(x * 10000 + 0.5) / 10000.0

    qa = math.floor(math.log(4 / 6) * 10000 + 0.5)
    qb = math.floor(math.log(1 / 6) * 10000 + 0.5)
    qr = math.floor(math.log(0.5 / 6) * 10000 + 0.5)
    assert out[1]["n_tokens"] == 4
    assert out[1]["oov_frac"] == 0.0
    assert out[1]["avg_logprob"] == q((3 * qa + qb) / 4 / 10000.0)
    assert out[2]["avg_logprob"] == q((qa + qr) / 2 / 10000.0)
    assert out[2]["oov_frac"] == 0.5
    # empty doc: present, null score
    assert out[3]["n_tokens"] == 0 and out[3]["avg_logprob"] is None


def test_score_unigram_empty_model_is_loud(spark):
    """A model trained on a zero-token corpus must not silently score
    every document as token-free: rows keep their true token counts and
    carry NULL __qsum (the visible anomaly documented on score_unigram)."""
    from adtl_spark.operators import corpus as C

    empty_train = spark.createDataFrame([(1, "")], ["doc_id", "text"])
    model = C.train_unigram(empty_train, vocab_k=2)
    docs = spark.createDataFrame([(10, "a b c")], ["doc_id", "text"])
    rows = {r["id"]: r for r in C.score_unigram(docs, model).collect()}
    assert rows[10]["__n"] == 3  # not dropped / not reported as empty
    assert rows[10]["__qsum"] is None  # loud null, not a fake score


def test_label_centroids_exact_means(spark):
    df = spark.createDataFrame(
        [(0, [1.0, 2.0]), (0, [3.0, 4.0]), (1, [10.0, 20.0])],
        ["label", "embedding"],
    )
    out = {
        (r["label"], r["dim"]): r["centroid"]
        for r in S.label_centroids(df, dim=2).collect()
    }
    assert out[(0, 0)] == 2.0 and out[(0, 1)] == 3.0
    assert out[(1, 0)] == 10.0 and out[(1, 1)] == 20.0


def test_kmeans_assign_separates_clear_clusters(spark):
    # two tight blobs far apart; init takes ids 1 and 2 (one from each blob)
    rows = [
        (1, [0.0, 0.0]),
        (2, [10.0, 10.0]),
        (3, [0.1, 0.0]),
        (4, [0.0, 0.1]),
        (5, [10.1, 10.0]),
        (6, [10.0, 10.1]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = {r["vec_id"]: r["cluster"] for r in S.kmeans_assign(df, k=2, iters=2).collect()}
    assert out[1] == out[3] == out[4] == 0
    assert out[2] == out[5] == out[6] == 1


def test_kmeans_iterations_move_centroids(spark):
    # init centroids (ids 1, 2) both sit inside the left blob; after one
    # update the right blob must capture its own centroid
    rows = [
        (1, [0.0, 0.0]),
        (2, [1.0, 0.0]),
        (3, [0.1, 0.1]),
        (4, [20.0, 20.0]),
        (5, [20.1, 20.0]),
        (6, [20.0, 20.1]),
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    zero_iter = {r["vec_id"]: r["cluster"] for r in S.kmeans_assign(df, k=2, iters=0).collect()}
    two_iter = {r["vec_id"]: r["cluster"] for r in S.kmeans_assign(df, k=2, iters=2).collect()}
    # with the raw init, the far blob all lands on centroid 1 (closer of the two)
    assert zero_iter[4] == zero_iter[5] == zero_iter[6] == 1
    # after updates the far blob still shares one cluster, left blob the other
    assert two_iter[4] == two_iter[5] == two_iter[6]
    assert two_iter[1] == two_iter[3]
    assert two_iter[1] != two_iter[4]


def test_range_join_binned_matches_naive(spark):
    from adtl_spark.operators.joins import range_join_binned

    left = spark.createDataFrame(
        [(1, 1, 1000), (2, 1, 2000), (3, 2, 1500), (4, 3, 500)],
        ["lid", "k", "t"],
    )
    right = spark.createDataFrame(
        [(10, 1, 900), (11, 1, 1000), (12, 1, 1999), (13, 2, 1400),
         (14, 2, 100), (15, 9, 1500)],
        ["rid", "k", "t"],
    )
    out = range_join_binned(
        left, right, key_col="k", time_col="t", lower=-100, upper=0,
        right_cols=["rid"],
    )
    got = {(r["lid"], r["matched_rid"]) for r in out.collect()}
    naive = (
        left.alias("l")
        .join(
            right.alias("r"),
            (F.col("l.k") == F.col("r.k"))
            & (F.col("r.t") >= F.col("l.t") - 100)
            & (F.col("r.t") <= F.col("l.t")),
        )
        .select("l.lid", "r.rid")
    )
    assert got == {(r["lid"], r["rid"]) for r in naive.collect()}
    assert (1, 10) in got and (1, 11) in got  # boundary inclusive both ends
    assert (4, 14) not in got  # outside window


def test_pack_chunks_global_prefix_sum(spark):
    rows = [
        # (doc_id, chunk_id, n_tokens) — doc ids straddle bucket 0 and 1
        (1, 0, 30), (1, 1, 10), (2, 0, 25), (1500, 0, 40), (1500, 1, 5),
    ]
    chunks = spark.createDataFrame(rows, ["doc_id", "chunk_id", "n_tokens"])
    out = {
        (r["doc_id"], r["chunk_id"]): (r["pack_id"], r["pack_offset"])
        for r in X.pack_chunks(chunks, budget=32, bucket_width=1024).collect()
    }
    # cumulative-exclusive: 0, 30, 40, 65, 105 over (doc, chunk) order
    assert out[(1, 0)] == (0, 0)
    assert out[(1, 1)] == (0, 30)  # crosses the 32-token boundary mid-chunk
    assert out[(2, 0)] == (1, 8)
    assert out[(1500, 0)] == (2, 1)  # bucket-1 chunk continues the stream
    assert out[(1500, 1)] == (3, 9)


def test_tfidf_topk_ranks_characteristic_terms(spark):
    import math

    df = spark.createDataFrame(
        [
            (1, "spark spark spark common"),
            (2, "duck duck common"),
            (3, "common words only"),
        ],
        ["doc_id", "text"],
    )
    out = [r for r in X.tfidf_topk(df, k=1).collect()]
    top = {r["doc_id"]: (r["token"], r["tfidf"]) for r in out}
    # 'spark' (df=1) beats 'common' (df=3, idf=0) despite lower tf ties
    assert top[1][0] == "spark"
    assert top[2][0] == "duck"
    q = math.floor(math.log(3 / 1) * 10000 + 0.5)
    assert top[1][1] == 3 * q / 10000.0
    # doc 3's tokens all have positive idf except 'common' (ln 1 = 0)
    assert top[3][0] in ("only", "words")


def test_length_stats_exact_median(spark):
    rows = [
        (1, "en", "a b c"),           # 3 tokens
        (2, "en", "a b c d e"),       # 5
        (3, "en", "a"),               # 1
        (4, "en", "a b c d e f g"),   # 7  -> even group: median (3+5)/2 = 4.0
        (5, "es", "uno dos tres"),    # odd group: median 3.0
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    out = {r["lang"]: r for r in X.length_stats_by_group(df).collect()}
    assert out["en"]["median_tokens"] == 4.0
    assert out["en"]["n_docs"] == 4 and out["en"]["total_tokens"] == 16
    assert out["en"]["mean_tokens"] == 4.0
    assert out["es"]["median_tokens"] == 3.0


def test_dedup_minhash_incremental_matches_full_cross_pairs(spark, docs):
    """Incremental (new-vs-corpus) pairs must equal the full-corpus pair
    list filtered to mixed-side pairs — signatures are partition-
    independent."""
    new_docs = docs.filter(F.col("doc_id") % 2 == 0)
    corpus = docs.filter(F.col("doc_id") % 2 == 1)
    inc = {
        (r["new_id"], r["corpus_id"]): r["est_jaccard"]
        for r in D.dedup_minhash_incremental(
            new_docs, corpus, k=16, bands=4, threshold=0.5, n=3
        ).collect()
    }
    full = D.dedup_minhash_lsh(docs, k=16, bands=4, threshold=0.5, n=3).collect()
    want = {}
    for r in full:
        a, b = r["id_a"], r["id_b"]
        if (a % 2 == 0) != (b % 2 == 0):
            new_id, corpus_id = (a, b) if a % 2 == 0 else (b, a)
            want[(new_id, corpus_id)] = r["est_jaccard"]
    assert inc == want
    assert (2, 1) in inc  # docs 1/2 are exact dups across the split


def test_dedup_minhash_incremental_accepts_precomputed_index(spark, docs):
    new_docs = docs.filter(F.col("doc_id") % 2 == 0)
    corpus = docs.filter(F.col("doc_id") % 2 == 1)
    index = D.minhash_signatures(corpus, k=16, n=3)
    via_index = D.dedup_minhash_incremental(
        new_docs, corpus, k=16, bands=4, threshold=0.5, n=3, corpus_sig=index
    ).collect()
    inline = D.dedup_minhash_incremental(
        new_docs, corpus, k=16, bands=4, threshold=0.5, n=3
    ).collect()
    assert sorted(map(tuple, via_index)) == sorted(map(tuple, inline))


def test_dedup_minhash_incremental_preserves_caller_index_cache(spark, docs):
    """A caller-maintained signature index must NOT be unpersisted behind
    the caller's back — evicting it would force a full corpus signature
    recompute on the next batch."""
    new_docs = docs.filter(F.col("doc_id") % 2 == 0)
    corpus = docs.filter(F.col("doc_id") % 2 == 1)
    index = D.minhash_signatures(corpus, k=16, n=3).persist()
    index.count()
    D.dedup_minhash_incremental(
        new_docs, corpus, k=16, bands=4, threshold=0.5, n=3, corpus_sig=index
    ).collect()
    assert index.storageLevel.useMemory  # still cached
    index.unpersist()


def test_quantize_embeddings_roundtrip_error_bounded(spark):
    df = spark.createDataFrame(
        [(1, [1.0, -0.5, 0.25]), (2, [0.0, 0.0, 0.0])], ["vec_id", "embedding"]
    )
    out = {(r["vec_id"], r["dim"]): r for r in S.quantize_embeddings(df).collect()}
    assert out[(1, 0)]["qval"] == 127 and out[(1, 0)]["scale"] == 1.0
    assert out[(1, 1)]["qval"] == -63  # floor(-63.5 + 0.5)
    # zero vector quantizes to all zeros with scale 0, no division error
    assert out[(2, 0)]["qval"] == 0 and out[(2, 0)]["scale"] == 0.0
    # dequantized error bounded by scale/(2*127)
    for (vid, dim), r in out.items():
        if r["scale"] > 0:
            orig = [1.0, -0.5, 0.25][dim]
            assert abs(r["qval"] / 127 * r["scale"] - orig) <= r["scale"] / 127


def test_range_join_binned_randomized_equivalence(spark):
    """Seeded random instance: the binned encoding must be EXACTLY the
    naive range join across bin boundaries, empty keys, and ties."""
    import random

    rng = random.Random(77)
    left = [(i, rng.randrange(5), rng.randrange(0, 5000)) for i in range(120)]
    right = [(1000 + i, rng.randrange(6), rng.randrange(0, 5000)) for i in range(300)]
    ldf = spark.createDataFrame(left, ["lid", "k", "t"])
    rdf = spark.createDataFrame(right, ["rid", "k", "t"])
    from adtl_spark.operators.joins import range_join_binned

    got = {
        (r["lid"], r["matched_rid"])
        for r in range_join_binned(
            ldf, rdf, key_col="k", time_col="t", lower=-250, upper=0,
            right_cols=["rid"],
        ).collect()
    }
    want = {
        (l[0], r[0])
        for l in left
        for r in right
        if l[1] == r[1] and l[2] - 250 <= r[2] <= l[2]
    }
    assert got == want


def test_pack_chunks_randomized_invariants(spark):
    """Seeded random chunk stream: pack ids are the exact prefix-sum
    slicing regardless of bucket boundaries."""
    import random

    rng = random.Random(11)
    rows = []
    for doc in sorted(rng.sample(range(0, 5000), 60)):
        for c in range(rng.randrange(1, 4)):
            rows.append((doc, c, rng.randrange(1, 40)))
    df = spark.createDataFrame(rows, ["doc_id", "chunk_id", "n_tokens"])
    out = {
        (r["doc_id"], r["chunk_id"]): (r["pack_id"], r["pack_offset"])
        for r in X.pack_chunks(df, budget=64, bucket_width=512).collect()
    }
    cum = 0
    for doc, c, n in sorted(rows):
        assert out[(doc, c)] == (cum // 64, cum % 64)
        cum += n


def test_bm25_topk_ranks_matching_docs(spark):
    """The document saturated with the query terms must outrank partial
    matches; ranks are dense 1..k per query and scores non-increasing."""
    docs = spark.createDataFrame(
        [
            (1, "hash join hash join hash join probe build"),
            (2, "hash join once amid other words entirely unrelated here"),
            (3, "sort merge sort merge runs"),
            (4, "nothing relevant at all in this document"),
        ],
        ["doc_id", "text"],
    )
    qdf = spark.createDataFrame(
        [(1, "hash join"), (2, "sort merge")], "query_id long, query string"
    )
    rows = X.bm25_topk(docs, qdf, k=3).collect()
    byq = {}
    for r in rows:
        byq.setdefault(r["query_id"], []).append(r)
    q1 = sorted(byq[1], key=lambda r: r["rank"])
    assert q1[0]["doc_id"] == 1  # saturated match wins
    assert [r["rank"] for r in q1] == list(range(1, len(q1) + 1))
    assert all(a["bm25"] >= b["bm25"] for a, b in zip(q1, q1[1:]))
    assert sorted(r["doc_id"] for r in byq[2])[0] == 3
    # doc 4 shares no terms with query 1's vocabulary -> never retrieved
    assert 4 not in {r["doc_id"] for r in q1}


def test_mixture_sample_nested_and_exact_at_extremes(spark):
    """Weight 1.0 keeps the whole group, 0.0 drops it, and a lower weight
    yields a SUBSET of a higher weight's sample (hash depends on the key
    only — reproducible curriculum re-mixes)."""
    from adtl_spark.operators import sampling as SA

    df = spark.createDataFrame(
        [(i, f"src{i % 3}") for i in range(300)], ["doc_id", "source"]
    )
    full = SA.mixture_sample(df, {"src0": 1.0, "src1": 0.5, "src2": 0.0})
    ids = {(r["doc_id"]) for r in full.collect()}
    assert {i for i in range(300) if i % 3 == 0} <= ids
    assert not any(i % 3 == 2 for i in ids)
    smaller = {
        r["doc_id"]
        for r in SA.mixture_sample(df, {"src0": 1.0, "src1": 0.2, "src2": 0.0})
        .collect()
    }
    assert smaller <= ids


def test_select_until_budget_matches_global_window(spark):
    """The two-phase banded prefix sum must equal the naive global ordered
    cumsum cutoff, across band boundaries and priority ties."""
    import random

    from pyspark.sql import Window

    from adtl_spark.operators import sampling as SA

    rng = random.Random(11)
    data = [(i, rng.randrange(1, 50), rng.randrange(0, 40)) for i in range(500)]
    df = spark.createDataFrame(data, ["doc_id", "n_tokens", "priority"])
    got = {
        (r["doc_id"], r["cum_tokens"])
        for r in SA.select_until_budget(df, budget=3000, band_width=8).collect()
    }
    w = (
        Window.orderBy(F.desc("priority"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {
        (r["doc_id"], r["cum"])
        for r in df.withColumn("cum", F.sum("n_tokens").over(w))
        .filter(F.col("cum") <= 3000)
        .collect()
    }
    assert got == want


def test_select_until_budget_empty_probe_falls_back(spark):
    """When the 2% band-derivation hash sample catches no rows (tiny
    inputs), _derive_bands must fall back to the full-input min/max and
    the selector must still match the global cumsum."""
    from adtl_spark.operators import sampling as SA

    # ids 1..20 all hash ABOVE the 2% bandstats threshold (verified), so
    # the probe is provably empty and the fallback path runs
    rows = [(i, 5, i) for i in range(1, 21)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens", "priority"])
    probe = df.filter(
        SA._keyed_hash(F.col("doc_id"), "bandstats")
        < int(0.02 * SA.HASH_SPACE)
    )
    assert probe.count() == 0
    got = {
        r["doc_id"]: r["cum_tokens"]
        for r in SA.select_until_budget(df, budget=50).collect()
    }
    # priority == doc_id, so order is doc_id DESC; 10 docs fit 50 tokens
    want = {doc: 5 * (21 - doc) for doc in range(11, 21)}
    assert got == want


def test_select_until_budget_degenerate_priority_fans_out(spark):
    """Adaptive banding on a constant-priority corpus (the documented
    degenerate case for fixed priority-banding) must (a) still equal the
    naive global cumsum and (b) spread rows across many window
    partitions via id-sub-banding instead of collapsing to one."""
    from adtl_spark.operators import sampling as SA

    n = 400
    rows = [(i, 7, 5) for i in range(n)]  # constant priority AND tokens
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens", "priority"])
    got = {
        r["doc_id"]: r["cum_tokens"]
        for r in SA.select_until_budget(df, budget=1000).collect()
    }
    assert got == {i: 7 * (i + 1) for i in range(1000 // 7)}
    pband, iband = SA._derive_bands(df, "priority", "doc_id", None)
    fanout = df.select(pband.alias("p"), iband.alias("i")).distinct().count()
    assert fanout >= 32  # no single-partition window


def test_select_until_budget_skewed_two_priority_fans_out(spark):
    """99% of rows sharing one priority value must still fan out (the
    exact-priority + id-sub-band composite), and match the Python walk."""
    from adtl_spark.operators import sampling as SA

    rows = [(i, 3, 1 if i % 100 else 2) for i in range(500)]
    df = spark.createDataFrame(rows, ["doc_id", "n_tokens", "priority"])
    cum, want = 0, {}
    for doc, nt, p in sorted(rows, key=lambda r: (-r[2], r[0])):
        cum += nt
        if cum <= 600:
            want[doc] = cum
    got = {
        r["doc_id"]: r["cum_tokens"]
        for r in SA.select_until_budget(df, budget=600).collect()
    }
    assert got == want
    pband, iband = SA._derive_bands(df, "priority", "doc_id", None)
    per_band = (
        df.select(pband.alias("p"), iband.alias("i"))
        .groupBy("p", "i")
        .count()
        .agg(F.max("count"))
        .collect()[0][0]
    )
    assert per_band <= 500 / 16  # the hot priority value is sub-banded


def test_select_until_budget_by_group_degenerate_priority(spark):
    """Per-group variant on the constant-priority corpus: equal to the
    per-group Python walk."""
    from adtl_spark.operators import sampling as SA

    rows = [(i, f"g{i % 3}", 5, 7) for i in range(300)]
    df = spark.createDataFrame(
        rows, ["doc_id", "source", "n_tokens", "priority"]
    )
    want = {}
    for g in ("g0", "g1", "g2"):
        cum = 0
        for doc, grp, nt, p in sorted(
            (r for r in rows if r[1] == g), key=lambda r: (-r[3], r[0])
        ):
            cum += nt
            if cum <= 200:
                want[doc] = cum
    got = {
        r["doc_id"]: r["cum_tokens"]
        for r in SA.select_until_budget_by_group(df, budget=200).collect()
    }
    assert got == want


def test_deterministic_shuffle_dense_stable_permutation(spark):
    """shuffle_pos is a dense 1..n permutation, identical across runs, and
    a different salt draws a different permutation."""
    from adtl_spark.operators import sampling as SA

    df = spark.createDataFrame([(i,) for i in range(400)], ["doc_id"])
    a = {r["doc_id"]: r["shuffle_pos"] for r in SA.deterministic_shuffle(df).collect()}
    assert sorted(a.values()) == list(range(1, 401))
    b = {r["doc_id"]: r["shuffle_pos"] for r in SA.deterministic_shuffle(df).collect()}
    assert a == b
    c = {
        r["doc_id"]: r["shuffle_pos"]
        for r in SA.deterministic_shuffle(df, salt="epoch2").collect()
    }
    assert sorted(c.values()) == list(range(1, 401))
    assert a != c


def test_bigram_logprob_rewards_sequence_structure(spark):
    """A document of coherent repeated phrases must outscore the SAME
    token multiset scrambled — the structure signal a unigram model
    cannot see (both docs have identical unigram scores by construction)."""
    from adtl_spark.operators import corpus as C

    phrase = "the cat sat " * 20
    # same 60 tokens, alternation destroys every frequent bigram
    scrambled = " ".join(["the"] * 20) + " " + " ".join(
        t for pair in zip(["cat"] * 20, ["sat"] * 20) for t in pair
    )
    docs = spark.createDataFrame(
        [(1, phrase.strip()), (2, scrambled)], ["doc_id", "text"]
    )
    rows = {
        r["doc_id"]: r
        for r in C.bigram_logprob(docs, vocab_k=5, bigram_m=20).collect()
    }
    assert rows[1]["n_tokens"] == rows[2]["n_tokens"] == 60
    assert rows[1]["oov_frac"] == rows[2]["oov_frac"] == 0.0
    assert rows[1]["avg_logprob"] > rows[2]["avg_logprob"]
    uni = {
        r["doc_id"]: r["avg_logprob"]
        for r in C.unigram_logprob(docs, vocab_k=5).collect()
    }
    assert uni[1] == uni[2]


def test_bigram_logprob_empty_and_single_token_docs(spark):
    """Zero-token docs yield NULL scores; a single-token doc scores its
    unigram term only."""
    from adtl_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [(1, "word word word"), (2, ""), (3, "word")], ["doc_id", "text"]
    )
    rows = {r["doc_id"]: r for r in C.bigram_logprob(docs, vocab_k=5).collect()}
    assert rows[2]["n_tokens"] == 0 and rows[2]["avg_logprob"] is None
    assert rows[3]["n_tokens"] == 1 and rows[3]["avg_logprob"] is not None


def test_lm_scorers_plan_size_independent_of_vocab_k(spark):
    """The <unk> mapping is a broadcast join against the vocab relation,
    never an IN-list literal: the analyzed plan at a realistic
    vocab_k=50_000 must be the same size as at vocab_k=20 (an embedded
    literal list is the documented Catalyst expression-size trap — it
    would grow the plan by ~1MB of token literals here)."""
    from adtl_spark.operators import corpus as C

    docs = spark.createDataFrame(
        [(i, f"tok{i} tok{i % 7} alpha beta") for i in range(40)],
        ["doc_id", "text"],
    )

    def plan_len(df):
        return len(df._jdf.queryExecution().analyzed().toString())

    for fn in (C.bigram_logprob, C.unigram_logprob):
        small = plan_len(fn(docs, vocab_k=20))
        big = plan_len(fn(docs, vocab_k=50_000))
        # identical up to the digits of the repeated LIMIT literal itself
        # (an IN-list at 50k tokens would add ~400KB); measured delta 402B
        assert abs(big - small) < 2000, (fn.__name__, small, big)


def test_keep_best_representative_prefers_quality_over_min_id(spark):
    """Within a duplicate cluster the HIGHEST-scoring member survives even
    when it has the largest id; singletons always survive."""
    docs = spark.createDataFrame(
        [
            (1, 2, "short"),
            (2, 2, "short short"),
            (3, 9, "the long rich distinct copy"),  # best quality, max id
            (7, 5, "unclustered singleton"),
        ],
        ["doc_id", "score", "text"],
    )
    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1)], ["doc_id", "canonical_id"]
    )
    kept = {
        r["doc_id"]
        for r in D.keep_best_representative(docs, clusters, "score").collect()
    }
    assert kept == {3, 7}
    # tie on score -> smallest id wins
    tie = spark.createDataFrame(
        [(4, 5, "a"), (5, 5, "b")], ["doc_id", "score", "text"]
    )
    tclusters = spark.createDataFrame([(4, 4), (5, 4)], ["doc_id", "canonical_id"])
    kept2 = {
        r["doc_id"]
        for r in D.keep_best_representative(tie, tclusters, "score").collect()
    }
    assert kept2 == {4}


def test_normalize_text_folds_and_collapses(spark):
    """Typographic folds, control strip, exotic-space canonicalization and
    whitespace collapse — verified against the DuckDB oracle twin on
    genuinely messy text (the gate corpus is clean ASCII, so this is the
    real cross-engine coverage for the chain)."""
    import duckdb

    messy = [
        (1, "“Smart” quotes ‘here’ — and… more"),
        (2, "nbsp and em-space​and zero-width"),
        (3, "ctrl\x01chars\x1fgone\ttabs\nnewlines   collapsed  "),
        (4, "already clean ascii"),
        (5, ""),
    ]
    docs = spark.createDataFrame(messy, ["doc_id", "text"])
    got = {
        r["doc_id"]: (r["text_norm"], r["n_chars_norm"], r["changed"])
        for r in X.normalize_text(docs).collect()
    }
    assert got[1][0] == "\"Smart\" quotes 'here' - and... more"
    assert got[2][0] == "nbsp and em-space and zero-width"
    assert got[3][0] == "ctrlcharsgone tabs newlines collapsed"
    assert got[4] == ("already clean ascii", 19, False)
    assert got[5] == ("", 0, False)
    con = duckdb.connect()
    con.execute("CREATE TABLE t (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO t VALUES (?, ?)", messy)
    oracle = {
        int(r[0]): (r[1], int(r[2]), bool(r[3]))
        for r in con.execute(
            X.normalize_text_oracle_sql("t")
        ).fetchall()
    }
    assert got == oracle


def test_cms_never_underestimates_and_is_exact_when_wide(spark):
    """Count-min law: estimates upper-bound true counts; with a width far
    above the vocabulary size no cell collides and estimates are exact.
    A deliberately tiny width forces collisions to exercise the min-over-
    rows bound."""
    docs = spark.createDataFrame(
        [(i, " ".join(f"tok{j}" for j in range(i % 7 + 1))) for i in range(60)],
        ["doc_id", "text"],
    )
    exact = {
        r["token"]: r["n"] for r in X.vocab_topk(docs, k=100).collect()
    }
    wide = X.cms_estimate(
        X.cms_build(docs, depth=4, width=4096),
        X.vocab_topk(docs, k=100).select("token"),
        depth=4,
        width=4096,
    )
    assert {r["token"]: r["n_est"] for r in wide.collect()} == exact
    narrow = X.cms_estimate(
        X.cms_build(docs, depth=4, width=4),
        X.vocab_topk(docs, k=100).select("token"),
        depth=4,
        width=4,
    )
    got = {r["token"]: r["n_est"] for r in narrow.collect()}
    assert all(got[t] >= n for t, n in exact.items())
    assert any(got[t] > n for t, n in exact.items())  # width=4 must collide


def test_tfidf_cosine_weights_rare_overlap(spark):
    """Two docs sharing RARE shingles must pair with high cosine, while
    docs overlapping only in boilerplate shared by most of the corpus are
    df-capped out of the candidate space entirely."""
    boiler = "all rights reserved by the site"
    rare = "quantum flux capacitor alignment manual"
    docs = spark.createDataFrame(
        [
            (1, f"{rare} part one"),
            (2, f"{rare} part two"),
            (3, f"{boiler} page alpha entirely different body here"),
            (4, f"{boiler} page beta unrelated content words instead"),
            (5, boiler),
            (6, boiler + " x"),
            (7, boiler + " y"),
        ],
        ["doc_id", "text"],
    )
    pairs = {
        (r["id_a"], r["id_b"]): r["cosine"]
        for r in D.tfidf_cosine_pairs(
            docs, threshold=0.5, n=3, max_doc_freq_frac=0.6
        ).collect()
    }
    assert (1, 2) in pairs and pairs[(1, 2)] > 0.6
    # 3-4 share only the boilerplate shingles, which exceed the df cap
    assert (3, 4) not in pairs
    for k, v in pairs.items():
        assert 0.0 <= v <= 1.0


def test_write_training_shards_deterministic_layout(spark, tmp_path):
    """Shard membership is a pure function of the key (append-stable:
    re-exporting a superset never moves an existing row) and reading the
    shards back in (shard, hash) order reproduces deterministic_shuffle's
    epoch order."""
    import pyspark.sql.functions as F

    from adtl_spark.operators import sampling as SA
    from adtl_spark.sources.io import write_training_shards

    df = spark.createDataFrame([(i, f"t{i}") for i in range(300)], ["doc_id", "text"])
    out = str(tmp_path / "shards")
    write_training_shards(df, out, n_shards=8)
    back = spark.read.parquet(out)
    assert back.count() == 300
    shards = {r["__shard__"] for r in back.select("__shard__").distinct().collect()}
    assert shards <= set(range(8)) and len(shards) > 1
    # membership stability under append
    bigger = spark.createDataFrame(
        [(i, f"t{i}") for i in range(400)], ["doc_id", "text"]
    )
    out2 = str(tmp_path / "shards2")
    write_training_shards(bigger, out2, n_shards=8)
    back2 = spark.read.parquet(out2)
    m1 = {r["doc_id"]: r["__shard__"] for r in back.collect()}
    m2 = {r["doc_id"]: r["__shard__"] for r in back2.collect()}
    assert all(m2[k] == v for k, v in m1.items())
    # concatenating shards in order == the deterministic epoch order
    order = [
        r["doc_id"]
        for r in SA.deterministic_shuffle(df)
        .orderBy("shuffle_pos")
        .select("doc_id")
        .collect()
    ]
    h = F.conv(
        F.substring(F.md5(F.concat_ws("|", F.lit("shuffle"), F.col("doc_id").cast("string"))), 1, 15),
        16,
        10,
    ).cast("long")
    got = [
        r["doc_id"]
        for r in back.withColumn("__h__", h)
        .orderBy("__shard__", "__h__", "doc_id")
        .select("doc_id")
        .collect()
    ]
    assert got == order


def test_funnel_requires_strict_step_order(spark, monkeypatch, tmp_path):
    """A purchase BEFORE the first qualifying click must not complete the
    funnel; only steps strictly after the previous step's first
    qualifying event count."""
    import adtl_spark.queries as Q

    rows = [
        # user 1: purchase first (ignored), then full ordered funnel
        (1, 1, "purchase"), (2, 2, "view"), (3, 3, "click"), (4, 4, "purchase"),
        # user 2: click before any view -> stops at step 1
        (5, 1, "click"), (6, 2, "view"),
        # user 3: never views -> 0 steps
        (7, 1, "signup"),
    ]
    df = (
        spark.createDataFrame(rows, ["event_id", "tsec", "event_type"])
        .selectExpr(
            "event_id",
            "CAST(tsec AS BIGINT) * 1000000000 AS ts",
            "CAST(event_id % 3 + 1 AS BIGINT) AS ignore_me",
            "event_type",
        )
        .withColumn("user_id", (F.col("event_id") <= 4).cast("long"))
    )
    df = df.withColumn(
        "user_id",
        F.when(F.col("event_id") <= 4, 1)
        .when(F.col("event_id") <= 6, 2)
        .otherwise(3),
    )
    src = tmp_path / "funnel"
    df.selectExpr(
        "event_id", "timestamp_micros(CAST(ts DIV 1000 AS BIGINT)) AS ts",
        "user_id", "event_type", "CAST(0.0 AS DOUBLE) AS value",
        "'{}' AS props"
    ).write.mode("overwrite").parquet(str(src / "events.parquet"))
    out = {r["user_id"]: r for r in Q.w9_funnel(spark, str(src)).collect()}
    assert out[1]["steps_completed"] == 3
    assert out[1]["t_purchase_us"] == 4_000_000  # t=4s, not the t=1s one
    assert out[2]["steps_completed"] == 1
    assert out[3]["steps_completed"] == 0


def test_nearest_centroid_separates_clear_classes(spark):
    """With well-separated classes every vector classifies back to its own
    label; an off-distribution vector lands far from its class centroid
    (outlier signal) and classifies to the nearest other prototype."""
    import random

    rng = random.Random(3)
    rows = []
    for i in range(40):
        label = i % 2
        base = 5.0 if label else -5.0
        rows.append((i, [base + rng.uniform(-0.1, 0.1) for _ in range(8)], label))
    # vector 99: labeled 0 but sitting in class 1's region
    rows.append((99, [5.0] * 8, 0))
    df = spark.createDataFrame(rows, ["vec_id", "embedding", "label"])
    pred = {r["vec_id"]: r for r in S.nearest_centroid(df, dim=8).collect()}
    assert all(pred[i]["correct"] for i in range(40))
    assert pred[99]["pred_label"] == 1 and not pred[99]["correct"]
    dists = {
        r["id"]: r["dist2q"] for r in S.centroid_distances(df, dim=8).collect()
    }
    assert dists[99] > 10 * max(dists[i] for i in range(40))


def test_zipf_fit_recovers_power_law(spark):
    """A corpus constructed with freq(rank) = C/rank must fit slope ~ -1;
    a uniform-frequency corpus fits slope ~ 0."""
    zipf_rows, uni_rows = [], []
    did = 0
    for r in range(1, 21):
        for _ in range(1200 // r):
            zipf_rows.append((did, f"w{r:02d}")); did += 1
        for _ in range(40):
            uni_rows.append((did, f"w{r:02d}")); did += 1
    z = spark.createDataFrame(zipf_rows, ["doc_id", "text"])
    u = spark.createDataFrame(uni_rows, ["doc_id", "text"])
    zs = X.zipf_fit(z, k=20).collect()[0]
    us = X.zipf_fit(u, k=20).collect()[0]
    assert abs(zs["zipf_slope"] + 1.0) < 0.05
    assert abs(us["zipf_slope"]) < 0.01


def test_length_filter_iqr_flags_extremes(spark):
    """Documents far outside their group's Tukey fences are flagged; the
    bulk of a tight distribution is kept."""
    rows = [(i, "en", "tok " * 50) for i in range(40)]
    rows.append((100, "en", "tok " * 5000))   # way above the fence
    rows.append((101, "en", "tok"))           # way below
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    got = {r["doc_id"]: r["kept"] for r in X.length_filter_iqr(df).collect()}
    assert all(got[i] for i in range(40))
    assert not got[100]


def test_pmi_surfaces_collocations_over_frequency(spark):
    """A bigram whose parts ONLY occur together (a true collocation) must
    outscore a frequent pair of independent tokens."""
    rows = []
    did = 0
    for _ in range(20):
        rows.append((did, "hong kong")); did += 1          # always together
    for i in range(100):
        # 'the' and 'cat' frequent but paired only sometimes
        rows.append((did, "the dog" if i % 2 else "the cat")); did += 1
        rows.append((did, "a cat")); did += 1
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r["ngram"]: r["pmi"] for r in X.pmi_topk(df, k=10, min_count=5).collect()}
    assert out["hong kong"] > out["the cat"]


def test_budget_by_group_matches_per_group_window(spark):
    """The grouped two-phase prefix sum equals the naive per-group ordered
    cumsum cutoff; every group respects its own ceiling independently."""
    import random

    from pyspark.sql import Window

    from adtl_spark.operators import sampling as SA

    rng = random.Random(5)
    data = [
        (i, f"g{i % 4}", rng.randrange(1, 30), rng.randrange(0, 50))
        for i in range(400)
    ]
    df = spark.createDataFrame(data, ["doc_id", "source", "n_tokens", "priority"])
    got = {
        (r["doc_id"], r["cum_tokens"])
        for r in SA.select_until_budget_by_group(
            df, budget=800, band_width=8
        ).collect()
    }
    w = (
        Window.partitionBy("source")
        .orderBy(F.desc("priority"), F.asc("doc_id"))
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    want = {
        (r["doc_id"], r["cum"])
        for r in df.withColumn("cum", F.sum("n_tokens").over(w))
        .filter(F.col("cum") <= 800)
        .collect()
    }
    assert got == want


def test_histogram_quantiles_bounded_error(spark):
    """Sketch estimates sit within bin_width below the exact quantiles
    (lower-bound estimator), and in a degenerate single-bin group they
    coincide with the bin floor."""
    import random

    rng = random.Random(9)
    rows = [
        (i, "en", "tok " * rng.randrange(1, 200)) for i in range(300)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])
    exact = X.length_quantiles_by_group(df).collect()[0]
    est = X.length_quantiles_histogram(df, bin_width=8).collect()[0]
    for p in ("25", "50", "75"):
        e, s = exact[f"p{p}_tokens"], est[f"p{p}_est"]
        assert s <= e < s + 8


# ------------------------------------------------------------------ sketches


def test_hll_close_to_exact_and_mergeable(spark):
    from adtl_spark.operators import sketches as SK

    n = 5000
    rows = [(i, f"grp{i % 2}", f"key{i}") for i in range(n)]
    df = spark.createDataFrame(rows, ["i", "grp", "key"])
    out = {
        r["grp"]: (r["n_set"], r["est_distinct"])
        for r in SK.hll_distinct(df, F.col("key"), F.col("grp")).collect()
    }
    for grp, exact in [("grp0", 2500), ("grp1", 2500)]:
        n_set, est = out[grp]
        # p=8 gives ~6.5% standard error; 4 sigma is a safe determinism-free bound
        assert abs(est - exact) / exact < 0.26, (grp, est)
    # mergeability: sketch(A) merged with sketch(B) == sketch(A union B)
    a = df.filter(F.col("i") < 2000)
    b = df.filter(F.col("i") >= 2000)
    merged = (
        SK.hll_registers(a, F.col("key"), F.col("grp"))
        .unionByName(SK.hll_registers(b, F.col("key"), F.col("grp")))
        .groupBy("grp", "register")
        .agg(F.max("m_rho").alias("m_rho"))
    )
    whole = SK.hll_distinct(df, F.col("key"), F.col("grp")).collect()
    via_merge = SK.hll_estimate(merged).collect()
    assert sorted(map(tuple, whole)) == sorted(map(tuple, via_merge))


def test_hll_small_range_uses_linear_counting(spark):
    from adtl_spark.operators import sketches as SK

    df = spark.createDataFrame(
        [("g", f"k{i % 10}") for i in range(100)], ["grp", "key"]
    )
    row = SK.hll_distinct(df, F.col("key"), F.col("grp")).collect()[0]
    # 10 distinct keys -> at most 10 registers set, linear counting regime:
    # the estimate lands within 1 of exact at this density
    assert row["n_set"] <= 10
    assert abs(row["est_distinct"] - 10) <= 1.0


# ----------------------------------------------------------------------- PCA


def test_pca_matches_numpy(spark):
    import numpy as np

    rng = np.random.default_rng(11)
    # anisotropic cloud: variance concentrated along a known direction
    base = rng.normal(size=(300, 8))
    base[:, 0] *= 10.0
    base[:, 1] *= 3.0
    rows = [(i, [float(x) for x in base[i]]) for i in range(300)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])

    comps, mu = S.pca_fit(df, k=2, dim=8)
    centered = base - base.mean(axis=0)
    _, _, vt = np.linalg.svd(centered, full_matrices=False)
    for c, v in zip(comps, vt[:2]):
        # same axis up to sign; quantized gram admits ~1e-3 wiggle
        assert abs(abs(np.dot(c, v)) - 1.0) < 1e-3, np.dot(c, v)
    assert np.allclose(mu, base.mean(axis=0), atol=1e-4)

    proj = {
        r["vec_id"]: (r["pc1"], r["pc2"])
        for r in S.pca_project(df, k=2, dim=8).collect()
    }
    expect = centered @ np.array(comps).T
    for i in range(300):
        assert abs(proj[i][0] - expect[i, 0]) < 1e-2
        assert abs(proj[i][1] - expect[i, 1]) < 1e-2


def test_pca_excludes_ragged_vectors(spark):
    rows = [(i, [float(i + j) for j in range(4)]) for i in range(10)]
    rows.append((99, [1.0, 2.0]))  # short vector must not break the fit
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    out = S.pca_project(df, k=1, dim=4)
    assert 99 not in {r["vec_id"] for r in out.collect()}


# --------------------------------------------------------------- NB quality


def test_nb_separates_classes_and_prior_for_empty(spark):
    from adtl_spark.operators import corpus as C

    rows = [
        (1, "good clean prose with structure and meaning", "wiki"),
        (2, "good careful prose with sources and meaning", "wiki"),
        (3, "click here buy now free offer spam spam", "web"),
        (4, "buy free spam offer click now here spam", "web"),
        (5, "good prose with meaning", "unlabeled"),
        (6, "spam offer click", "unlabeled"),
        (7, "", "unlabeled"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "source"])
    out = {
        r["doc_id"]: r
        for r in C.nb_quality(
            docs, F.col("source") == "wiki", vocab_k=30
        ).collect()
    }
    assert out[1]["nb_keep"] and out[2]["nb_keep"]
    assert not out[3]["nb_keep"] and not out[4]["nb_keep"]
    # unlabeled docs score by their tokens, not their (negative) label
    assert out[5]["nb_score"] > out[6]["nb_score"]
    # empty doc scores exactly the class prior
    assert out[7]["n_tokens"] == 0
    prior_only = out[7]["nb_score"]
    import math

    expected_prior = math.floor(math.log(2.5 / 5.5) * 10000 + 0.5) / 10000.0
    assert abs(prior_only - expected_prior) < 1e-9


# ------------------------------------------------------------------ tokenizer


def test_bpe_learns_frequent_pairs_and_segments(spark):
    from adtl_spark.operators import tokenizer as T

    rows = [
        (1, "lower lower lower newest newest"),
        (2, "lowest lowest newer newer lower"),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text"])
    merges = T.bpe_merges(docs, n_merges=3).collect()
    assert [m["step"] for m in merges] == [1, 2, 3]
    # 'w e' appears in every word of lower/lowest/newer/newest: 10 total
    assert (merges[0]["s1"], merges[0]["s2"], merges[0]["cnt"]) == ("w", "e", 10)
    # later merges may build on earlier merged symbols
    seg = {
        r["doc_id"]: r
        for r in T.bpe_segment(
            docs, [(m["s1"], m["s2"]) for m in merges]
        ).collect()
    }
    # merging strictly reduces piece count below the character count
    chars = {1: len("lowerlowerlowernewestnewest"), 2: len("lowestlowestnewernewerlower")}
    for d in (1, 2):
        assert seg[d]["n_pieces"] < chars[d]
        assert seg[d]["n_words"] == 5


def test_bpe_two_pass_replace_semantics(spark):
    from adtl_spark.operators import tokenizer as T

    # 'aaaa' with top pair (a,a): two passes give aa aa (the single-pass
    # miss is repaired); this pins the documented cross-engine semantics
    docs = spark.createDataFrame([(1, "aaaa aaaa")], ["doc_id", "text"])
    merges = T.bpe_merges(docs, n_merges=1).collect()
    assert (merges[0]["s1"], merges[0]["s2"], merges[0]["cnt"]) == ("a", "a", 6)
    seg = T.bpe_segment(docs, [("a", "a")]).collect()[0]
    assert seg["n_pieces"] == 4  # two words x (aa, aa)


def _bpe_corpus(spark):
    """A deterministic ~200-word corpus with overlapping-run words and
    shared subwords — the cases where trainer semantics can diverge."""
    words = [
        "lower", "lowest", "newer", "newest", "wider", "widest",
        "aaaa", "aaa", "abab", "banana", "bananas", "anna",
    ]
    rows = [
        (d, " ".join(words[(d + i) % len(words)] for i in range(3 + d % 5)))
        for d in range(40)
    ]
    return spark.createDataFrame(rows, ["doc_id", "text"])


def test_local_trainer_matches_distributed(spark):
    """bpe_train_local (one tokenize+agg collect + incremental driver
    loop) must be bit-identical to the oracle-gated distributed loop —
    same merges, same order, same counts — at the gate's N=6."""
    from adtl_spark.operators import tokenizer as T

    docs = _bpe_corpus(spark)
    dist = [tuple(r) for r in T.bpe_merges(docs, n_merges=6).collect()]
    local = [tuple(r) for r in T.bpe_train_local(docs, n_merges=6).collect()]
    assert local == dist


def test_segment_model_matches_expression_segmenter(spark):
    """The broadcast-model segmenter (distinct-word pandas-UDF replay)
    matches the expression-tree segmenter on the same merge list."""
    from adtl_spark.operators import tokenizer as T

    docs = _bpe_corpus(spark)
    merges = [
        (m["s1"], m["s2"])
        for m in T.bpe_train_local(docs, n_merges=6).collect()
    ]
    a = sorted(tuple(r) for r in T.bpe_segment(docs, merges).collect())
    b = sorted(tuple(r) for r in T.bpe_segment_model(docs, merges).collect())
    assert a == b


def test_local_trainer_empty_and_tiny_corpus(spark):
    """bpe_train_local edge cases: an empty corpus yields an empty merge
    table; a corpus of single-character words (no pairs) stops at zero
    merges; ann_pq-style short inputs with fewer rows than requested
    merges stop early with contiguous steps."""
    from adtl_spark.operators import tokenizer as T

    empty = spark.createDataFrame([], "doc_id long, text string")
    assert T.bpe_train_local(empty, n_merges=5).count() == 0
    singles = spark.createDataFrame([(1, "a b c a b")], ["doc_id", "text"])
    assert T.bpe_train_local(singles, n_merges=5).count() == 0
    tiny = spark.createDataFrame([(1, "ab ab")], ["doc_id", "text"])
    merges = T.bpe_train_local(tiny, n_merges=10).collect()
    assert [m["step"] for m in merges] == list(range(1, len(merges) + 1))
    assert 0 < len(merges) < 10  # saturates before the cap


def test_local_trainer_realistic_vocab_size(spark):
    """The whole point of the driver-side loop: a four-digit merge count
    completes without one-Spark-job-per-merge.  The corpus saturates
    before 1000 merges (every word fully merged), so the trainer must
    also stop early cleanly."""
    import time

    from adtl_spark.operators import tokenizer as T

    docs = _bpe_corpus(spark)
    t0 = time.time()
    merges = T.bpe_train_local(docs, n_merges=1000).collect()
    assert 0 < len(merges) <= 1000
    assert [m["step"] for m in merges] == list(range(1, len(merges) + 1))
    # saturation: replaying every merge leaves each distinct word in
    # the fewest pieces two-pass semantics can reach (>= 1 each)
    assert time.time() - t0 < 60


def test_gapfill_linear_interpolates_and_clamps(spark):
    """Linear gap fill: interior nulls interpolate between neighbors,
    leading/trailing nulls clamp to the nearest observation, observed
    values pass through untouched, keys stay independent."""
    from adtl_spark.operators.joins import gapfill_linear

    rows = [
        ("a", 0, None), ("a", 1, 10.0), ("a", 2, None), ("a", 3, None),
        ("a", 4, 40.0), ("a", 5, None),
        ("b", 0, 5.0), ("b", 1, None), ("b", 2, 7.0),
    ]
    df = spark.createDataFrame(rows, "k string, pos int, v double")
    got = {
        (r["k"], r["pos"]): (r["filled"], r["observed"])
        for r in gapfill_linear(df, "k", "pos", "v").collect()
    }
    assert got[("a", 0)] == (10.0, False)   # leading clamp
    assert got[("a", 1)] == (10.0, True)
    assert got[("a", 2)] == (20.0, False)   # 10 + 30*(1/3)
    assert got[("a", 3)] == (30.0, False)
    assert got[("a", 4)] == (40.0, True)
    assert got[("a", 5)] == (40.0, False)   # trailing clamp
    assert got[("b", 1)] == (6.0, False)


def test_dataset_report_single_pass_stats(spark):
    """report_table: one aggregation per table, stats match known values
    on a crafted frame (nulls, distincts, numeric and string ranges)."""
    import importlib.util
    import os

    spec = importlib.util.spec_from_file_location(
        "dataset_report",
        os.path.join(os.path.dirname(__file__), "..", "tools", "dataset_report.py"),
    )
    dr = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(dr)

    df = spark.createDataFrame(
        [(1, "aa", 2.0), (2, None, 4.0), (3, "cccc", None)],
        "id long, s string, x double",
    )
    rep = dr.report_table(df)
    assert rep["rows"] == 3
    assert rep["columns"]["s"]["null_frac"] == round(1 / 3, 6)
    assert rep["columns"]["s"]["min_len"] == 2
    assert rep["columns"]["s"]["max_len"] == 4
    assert rep["columns"]["x"]["min"] == 2.0 and rep["columns"]["x"]["max"] == 4.0
    assert rep["columns"]["id"]["distinct"] == 3


def test_jl_projection_preserves_distances(spark):
    """JL sign projection must (a) match a pure-Python replay of the
    literal sign matrix and (b) roughly preserve pairwise squared
    distances (the property the operator exists for) — mean relative
    distortion across random pairs well under 50% at k=16."""
    import random

    from adtl_spark.operators import similarity as S

    rng = random.Random(3)
    dim, k = 64, 16
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(dim)]) for i in range(80)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    got = {
        (r["vec_id"], r["j"]): r["yq"]
        for r in S.jl_project(df, k=k, dim=dim).collect()
    }
    mat = S._jl_rows(k, dim, 97)

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    import math

    proj = {}
    for i, v in rows:
        proj[i] = []
        for j in range(k):
            y = fold_dot(v, mat[j])
            assert got[(i, j)] == int(math.floor(y * 1000000 + 0.5)), (i, j)
            proj[i].append(y)
    errs = []
    for _ in range(200):
        a, b = rng.sample(range(80), 2)
        d_o = sum((x - y) ** 2 for x, y in zip(rows[a][1], rows[b][1]))
        d_p = sum((x - y) ** 2 for x, y in zip(proj[a], proj[b]))
        errs.append(abs(d_p - d_o) / d_o)
    assert sum(errs) / len(errs) < 0.5


def test_zorder_key_matches_python_interleave(spark):
    """zorder_key must equal the textbook Morton interleave (bit b of
    column i at position b*n+i), and preserve the curve's locality
    property: the key of (x, y) and (x, y+1) differ only in y-bits."""
    from adtl_spark.sources.io import zorder_key

    def morton(vals, bits):
        out = 0
        for b in range(bits):
            for i, v in enumerate(vals):
                out |= ((v >> b) & 1) << (b * len(vals) + i)
        return out

    rows = [(x, y) for x in range(16) for y in range(16)]
    df = spark.createDataFrame(rows, ["x", "y"])
    got = {
        (r["x"], r["y"]): r["z"]
        for r in df.select(
            "x", "y", zorder_key([F.col("x"), F.col("y")], bits=8).alias("z")
        ).collect()
    }
    for x, y in rows:
        assert got[(x, y)] == morton([x, y], 8), (x, y)


def test_temperature_sample_flattens_and_nests(spark):
    """sqrt-temperature sampling keeps ALL of the smallest group,
    downsamples big groups toward sqrt(n_min*n_g), and is append-stable
    (adding rows to one group never flips another group's decisions)."""
    from adtl_spark.operators import sampling as SA

    rows = [(i, "big") for i in range(4000)] + [
        (i + 10000, "small") for i in range(250)
    ]
    df = spark.createDataFrame(rows, ["doc_id", "source"])
    kept = SA.temperature_sample(df).groupBy("source").count().collect()
    by = {r["source"]: r["count"] for r in kept}
    assert by["small"] == 250  # rate 1.0: smallest group keeps everything
    import math

    expect_big = math.sqrt(250 * 4000)
    assert abs(by["big"] - expect_big) / expect_big < 0.15
    # append-stability: growing 'big' only shrinks ITS rate; the kept set
    # for 'small' is unchanged and 'big' keeps a subset of its old sample
    bigger = df.union(
        spark.createDataFrame([(i + 50000, "big") for i in range(2000)],
                              ["doc_id", "source"])
    )
    old_big = {
        r["doc_id"]
        for r in SA.temperature_sample(df).filter("source = 'big'").collect()
    }
    new_big = {
        r["doc_id"]
        for r in SA.temperature_sample(bigger)
        .filter("source = 'big' AND doc_id < 10000")
        .collect()
    }
    assert new_big <= old_big


def test_triangle_count_known_graph(spark):
    """Triangles on a known co-occurrence graph: group {a,b,c} is one
    triangle; adding d sharing a group with only a adds none; a 4-clique
    group {a,b,c,e} makes C(4,3)=4 total triangles containing its edges."""
    from adtl_spark.operators import graph as G

    pairs = [(1, "a"), (1, "b"), (1, "c"), (2, "a"), (2, "d")]
    df = spark.createDataFrame(pairs, ["g", "m"])
    edges = G.cooccurrence_edges(df, "g", "m")
    assert G.triangle_count(edges).collect()[0]["n_triangles"] == 1
    clique = df.union(
        spark.createDataFrame(
            [(3, "a"), (3, "b"), (3, "c"), (3, "e")], ["g", "m"]
        )
    )
    edges4 = G.cooccurrence_edges(clique, "g", "m")
    assert G.triangle_count(edges4).collect()[0]["n_triangles"] == 4


def test_ann_pq_matches_python_replay(spark):
    """Differential: ann_pq (codebooks, encoding, quantized ADC, ranking)
    against a from-scratch pure-Python PQ on a synthetic corpus."""
    import math
    import random

    from adtl_spark.operators import similarity as S

    rng = random.Random(5)
    dim, m, ks, k = 16, 4, 6, 3
    d_sub = dim // m
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)])
        for i in range(60)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.orderBy("vec_id").limit(3)

    def fold_dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    # python replay: codebooks = lowest-id vectors' sub-slices
    books = [
        [rows[c][1][j * d_sub : (j + 1) * d_sub] for c in range(ks)]
        for j in range(m)
    ]

    def encode(v):
        out = []
        for j in range(m):
            sv = v[j * d_sub : (j + 1) * d_sub]
            best, bc = None, None
            for c, cb in enumerate(books[j]):
                s = 0.5 * fold_dot(cb, cb) - fold_dot(sv, cb)
                if best is None or s < best:
                    best, bc = s, c
            out.append(bc)
        return out

    want = {}
    for qi, qv in rows[:3]:
        dists = []
        for ci, cv in rows:
            if ci == qi:
                continue
            codes = encode(cv)
            d = 0
            for j in range(m):
                sq = qv[j * d_sub : (j + 1) * d_sub]
                cb = books[j][codes[j]]
                dj = fold_dot(sq, sq) - 2 * fold_dot(sq, cb) + fold_dot(cb, cb)
                d += int(math.floor(dj * 1000000000 + 0.5))
            dists.append((d, ci))
        dists.sort()
        for rank, (d, ci) in enumerate(dists[:k], 1):
            want[(qi, ci)] = (rank, d)
    got = {
        (r["query_id"], r["corpus_id"]): (r["rank"], r["qdist"])
        for r in S.ann_pq(df, q, m=m, ks=ks, k=k, dim=dim).collect()
    }
    assert got == want


def test_ann_pq_trained_codebooks_deterministic(spark):
    """The Lloyd-trained PQ option must be deterministic across runs and
    produce valid codes/rankings with the same output contract as the
    untrained path."""
    import random

    from adtl_spark.operators import similarity as S

    rng = random.Random(9)
    dim, m, ks = 16, 4, 4
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(dim)])
        for i in range(50)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.orderBy("vec_id").limit(2)
    a = sorted(
        tuple(r)
        for r in S.ann_pq(df, q, m=m, ks=ks, k=3, dim=dim, train_iters=2).collect()
    )
    b = sorted(
        tuple(r)
        for r in S.ann_pq(df, q, m=m, ks=ks, k=3, dim=dim, train_iters=2).collect()
    )
    assert a == b and len(a) == 2 * 3
    untrained = sorted(
        tuple(r) for r in S.ann_pq(df, q, m=m, ks=ks, k=3, dim=dim).collect()
    )
    assert len(untrained) == 2 * 3  # same contract, different codebooks


def test_heavy_hitters_exact_and_layout_invariant(spark):
    """heavy_hitters must return EXACTLY the items with count > n/k (the
    sketch only bounds candidates) and the same answer under different
    partition layouts (per-partition Misra-Gries content is layout- and
    order-dependent; the recount must erase that)."""
    from collections import Counter

    from adtl_spark.operators import sketches as SK

    # Zipf-ish stream: item i appears ~1000/i times, plus a long tail
    rows = []
    for i in range(1, 60):
        rows += [(f"hot{i}",)] * (1000 // i)
    rows += [(f"tail{j}",) for j in range(2000)]
    n = len(rows)
    k = 40
    exact = Counter(r[0] for r in rows)
    want = {(it, c) for it, c in exact.items() if c > n / k}
    for parts in (1, 7, 32):
        df = spark.createDataFrame(rows, ["item"]).repartition(parts)
        got = {
            (r["item"], r["cnt"])
            for r in SK.heavy_hitters(df, "item", k=k).collect()
        }
        assert got == want, f"parts={parts}"


def test_heavy_hitters_candidate_bound(spark):
    """At most k candidate rows leave each partition (the sketch's whole
    point: bounded shuffle regardless of distinct count)."""
    from adtl_spark.operators import sketches as SK
    import pandas as pd

    k = 10
    pdf = pd.DataFrame({"item": [f"u{i}" for i in range(5000)]})
    df = spark.createDataFrame(pdf).repartition(4)
    src = df.select("item")

    # replicate the internal sketch stage alone to count its output rows
    def mg(batches, _k=k):
        counters = {}
        for p in batches:
            for it, c in p["item"].value_counts().items():
                counters[it] = counters.get(it, 0) + int(c)
            if len(counters) > _k:
                cut = sorted(counters.values(), reverse=True)[_k]
                counters = {i: c - cut for i, c in counters.items() if c > cut}
        if counters:
            yield pd.DataFrame({"item": list(counters.keys())})

    n_cand = src.mapInPandas(mg, "item string").count()
    assert n_cand <= 4 * k
    # all-unique stream: nothing clears n/k, exact output is empty
    assert SK.heavy_hitters(df, "item", k=k).count() == 0


# ---------------------------------------------------------------- graph/fuzzy


def test_pagerank_hub_ranks_highest(spark):
    from adtl_spark.operators import graph as G

    # star graph: hub h co-occurs with each spoke in its own group
    pairs = [(g, "h") for g in range(4)] + [(g, f"s{g}") for g in range(4)]
    pdf = spark.createDataFrame(pairs, ["g", "m"])
    edges = G.cooccurrence_edges(pdf, "g", "m")
    verts = spark.createDataFrame(
        [("h",), ("s0",), ("s1",), ("s2",), ("s3",), ("iso",)], ["v"]
    )
    out = G.pagerank(edges, verts, iters=3).collect()
    ranks = {r["v"]: r["pagerank"] for r in out}
    assert max(ranks, key=ranks.get) == "h"
    # isolated vertex holds exactly the base rank
    assert ranks["iso"] == 0.15
    # spokes are symmetric
    assert len({ranks[f"s{i}"] for i in range(4)}) == 1
    # output ordered by rank desc then id
    assert [r["v"] for r in out][0] == "h"


def test_fuzzy_blocking_complete_at_distance_one(spark):
    from adtl_spark.operators import fuzzy as FZ

    names = [
        (1, "martha"),
        (2, "marhta"),   # transposition = distance 2, must NOT match
        (3, "marta"),    # deletion: dist 1 from martha
        (4, "martha"),   # exact dup: dist 0
        (5, "maratha"),  # insertion: dist 1 from martha
        (6, "zzzzzz"),   # unrelated
    ]
    df = spark.createDataFrame(names, ["id", "name"])
    got = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in FZ.fuzzy_pairs(df, "id", "name", max_dist=1).collect()
    }
    assert got[(1, 3)] == 1 and got[(1, 4)] == 0 and got[(1, 5)] == 1
    assert got[(3, 4)] == 1 and got[(4, 5)] == 1
    assert (1, 2) not in got  # transposition is distance 2
    assert not any(6 in p for p in got)


def test_weighted_sample_biases_toward_weight(spark):
    """Heavier rows must be overrepresented: with weights 100 vs 1, a
    100-of-200 sample must take nearly all heavy rows."""
    from adtl_spark.operators import sampling as SA

    rows = [(i, 100.0 if i < 100 else 1.0) for i in range(200)]
    df = spark.createDataFrame(rows, ["doc_id", "w"])
    picked = {r["doc_id"] for r in SA.weighted_sample(df, "w", k=100).collect()}
    heavy = sum(1 for i in picked if i < 100)
    assert heavy >= 90
    # deterministic: second call returns the identical set
    again = {r["doc_id"] for r in SA.weighted_sample(df, "w", k=100).collect()}
    assert picked == again
    # zero/negative weights never selected
    df2 = spark.createDataFrame(
        [(1, 0.0), (2, -1.0), (3, 5.0)], ["doc_id", "w"]
    )
    assert {r["doc_id"] for r in SA.weighted_sample(df2, "w", k=3).collect()} == {3}


def test_operators_handle_empty_corpus(spark):
    """Degenerate-input sweep: an EMPTY documents table must flow through
    the operator surface without crashing — empty results, never
    exceptions (a 100 TB pipeline's per-partition slices are routinely
    empty after filtering)."""
    from pyspark.sql import functions as F

    from adtl_spark.operators import corpus as C
    from adtl_spark.operators import dedup as D
    from adtl_spark.operators import sketches as SK
    from adtl_spark.operators import text as X
    from adtl_spark.operators import tokenizer as T

    empty = spark.createDataFrame([], "doc_id long, text string, source string")
    assert D.dedup_exact(empty).count() == 0
    assert D.dedup_minhash_lsh(empty, k=8, bands=2, threshold=0.5).count() == 0
    assert X.token_stats(empty).count() == 0
    assert X.vocab_topk(empty, k=5).count() == 0
    assert X.pack_chunks(X.chunk_documents(empty), budget=64).count() == 0
    assert (
        C.nb_quality(empty, F.col("source") == "x", vocab_k=5).count() == 0
    )
    assert SK.hll_distinct(
        empty.select("doc_id", F.col("text").alias("key"), F.lit("g").alias("grp")),
        F.col("key"),
        F.col("grp"),
    ).count() == 0
    assert T.bpe_merges(empty, n_merges=2).count() == 0
    assert T.bpe_segment(empty, [("a", "b")]).count() == 0


def test_semantic_dedup_auto_k_scales_with_corpus(spark):
    """k=None derives isqrt(N) clusters (the documented sqrt-scaling
    deployment) and matches the explicit-k run exactly."""
    import math

    from adtl_spark.operators import similarity as S

    n = 120
    rows = [
        (i, [float((i * 7 + d * 3) % 13) for d in range(8)]) for i in range(n)
    ]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    auto = {
        r["vec_id"]: r["cluster"]
        for r in S.semantic_dedup(df, tau=0.999, k=None).collect()
    }
    explicit = {
        r["vec_id"]: r["cluster"]
        for r in S.semantic_dedup(df, tau=0.999, k=math.isqrt(n)).collect()
    }
    assert auto == explicit
    assert len(set(auto.values())) > 1  # actually clustered


def test_jpeg_dht_with_overflowing_counts_is_rejected():
    """A DHT whose code counts overflow the code space fails with a named
    error instead of decoding wrong symbols from an overgrown table."""
    import numpy as np

    from adtl_spark.operators import jpeg_lite as J

    full = [0, 4] + [0] * 14  # four 2-bit codes: the whole code space
    J._HuffTree(full, [0, 1, 2, 3])
    for bits in ([3] + [0] * 15, [0, 5] + [0] * 14, [1, 2, 1] + [0] * 13):
        with pytest.raises(ValueError, match="invalid Huffman table"):
            J._HuffTree(bits, list(range(sum(bits))))

    gray = np.arange(64, dtype=np.uint8).tobytes()
    good = J.encode_jpeg(8, 8, gray, quality=90, gray=True)
    assert J.decode_jpeg(good)
    bad_dht = J._dht_segment(0, 0, [0, 5] + [0] * 14, [0, 1, 2, 3, 4])
    with pytest.raises(ValueError, match="invalid Huffman table"):
        J.decode_jpeg(good[:2] + bad_dht + good[2:])
