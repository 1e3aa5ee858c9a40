"""Operator-level tests: dedup (minhash/simhash/jaccard/components),
similarity (brute force vs SRP), text, multimodal plumbing."""

import pytest
from pyspark.sql import functions as F

from hive_jq_udtf_spark.operators import dedup, multimodal, similarity, text


@pytest.fixture(scope="module")
def near_dup_docs(spark):
    base = (
        "the quick brown fox jumps over the lazy dog while the cat "
        "sleeps on the warm mat near the old wooden door of the house"
    )
    variant = base.replace("warm mat", "cold mat")  # near-dup of 0
    other = (
        "completely different content about spark query engines and "
        "distributed joins with shuffles partitions and broadcast trees"
    )
    dup = base  # exact dup of 0
    rows = [(0, base), (1, variant), (2, other), (3, dup)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_exact_dedup(near_dup_docs):
    out = dedup.exact_dedup(near_dup_docs)
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [0, 1, 2]  # 3 removed (exact dup of 0)
    stats = dedup.exact_dedup_stats(near_dup_docs).collect()[0]
    assert (stats.n_docs, stats.n_distinct, stats.n_dupes) == (4, 3, 1)


def test_jaccard_prefix_equals_invert(near_dup_docs):
    a = sorted(
        (r.doc_a, r.doc_b, round(r.jaccard, 6))
        for r in dedup.ngram_jaccard_pairs(near_dup_docs, threshold=0.5).collect()
    )
    b = sorted(
        (r.doc_a, r.doc_b, round(r.jaccard, 6))
        for r in dedup.ngram_jaccard_pairs(
            near_dup_docs, threshold=0.5, method="invert"
        ).collect()
    )
    assert a == b
    assert (0, 3, 1.0) in a  # exact dup pair
    assert any(x[0] == 0 and x[1] == 1 for x in a)  # near-dup pair


def test_minhash_finds_planted_pairs(near_dup_docs):
    pairs = dedup.minhash_neardup_pairs(near_dup_docs, threshold=0.5)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (0, 3) in got
    assert (0, 1) in got
    assert not any(2 in p for p in got)  # unrelated doc never matches


def test_minhash_dedup_removes_losers(near_dup_docs):
    out = dedup.minhash_dedup(near_dup_docs, threshold=0.5)
    ids = sorted(r.doc_id for r in out.collect())
    assert ids == [0, 2]  # 1 and 3 both matched 0 and have higher ids


def test_connected_components(spark):
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long"
    )
    comp = {r.doc_id: r.component for r in dedup.connected_components(pairs).collect()}
    assert comp[1] == comp[2] == comp[3] == 1
    assert comp[10] == comp[11] == 10


def test_simhash_near_pairs(near_dup_docs):
    pairs = dedup.simhash_neardup_pairs(near_dup_docs, max_hamming=10)
    got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
    assert (0, 3) in got  # identical text → hamming 0
    h = {(r.doc_a, r.doc_b): r.hamming for r in pairs.collect()}
    assert h[(0, 3)] == 0


def test_simhash_distinct_docs_far(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta " * 10), (1, "omega psi chi phi " * 10)],
        "doc_id long, text string",
    )
    pairs = dedup.simhash_neardup_pairs(docs, max_hamming=3).collect()
    assert pairs == []


@pytest.fixture(scope="module")
def emb_df(spark):
    import random

    random.seed(3)
    rows = []
    for i in range(60):
        v = [random.gauss(0, 1) for _ in range(16)]
        rows.append((i, v))
    # plant: 100 near-identical to 0
    base = rows[0][1]
    rows.append((100, [x + 0.001 for x in base]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_brute_force_topk(emb_df):
    q = emb_df.where(F.col("vec_id") == 0)
    c = emb_df.where(F.col("vec_id") != 0)
    out = similarity.brute_force_topk(q, c, k=3).collect()
    assert len(out) == 3
    assert out[0].neighbor_id == 100  # planted near-identical
    assert out[0].cosine > 0.999
    assert [r.rank for r in out] == [1, 2, 3]


def test_pairwise_cosine(emb_df):
    pairs = similarity.pairwise_cosine(emb_df, threshold=0.999).collect()
    assert {(r.vec_a, r.vec_b) for r in pairs} == {(0, 100)}


def test_srp_topk_finds_planted(emb_df):
    q = emb_df.where(F.col("vec_id") == 0)
    c = emb_df.where(F.col("vec_id") != 0)
    out = similarity.srp_topk(q, c, k=3, n_planes=4, dim=16).collect()
    # planted near-identical vector falls in the same SRP bucket
    assert out and out[0].neighbor_id == 100


def test_srp_recall_vs_brute(emb_df):
    q = emb_df.where(F.col("vec_id") < 5)
    c = emb_df.where(F.col("vec_id") >= 5)
    brute = similarity.brute_force_topk(q, c, k=1).collect()
    srp = similarity.srp_topk(q, c, k=1, n_planes=2, dim=16).collect()
    b1 = {r.query_id: r.neighbor_id for r in brute}
    s1 = {r.query_id: r.neighbor_id for r in srp}
    hits = sum(1 for k in b1 if s1.get(k) == b1[k])
    assert hits >= 2  # coarse buckets (2 planes) keep recall reasonable


def test_text_operators(spark, sf_dir):
    from hive_jq_udtf_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    ts = text.token_stats(docs).collect()
    assert len(ts) == 5 and all(r.n_docs > 0 for r in ts)
    qs = text.quality_scores(docs).collect()
    assert all(r.n_pass + r.n_fail > 0 for r in qs)
    tc = text.token_counts(docs.limit(10)).collect()
    assert all(r.ws_tokens > 0 and r.bpe_ish_tokens > 0 for r in tc)


def test_language_id(spark):
    docs = spark.createDataFrame(
        [
            (0, "the cat and the dog went to the house and this is the end"),
            (1, "der hund und die katze sind in das haus und der garten ist schoen"),
            (2, "el gato y el perro es los animales y la casa es grande"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.pred_lang for r in text.language_id(docs).collect()}
    assert out[0] == "en"
    assert out[1] == "de"
    assert out[2] == "es"


def test_multimodal_plumbing(spark, sf_dir):
    from hive_jq_udtf_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").limit(20)
    media = multimodal.docs_as_media(docs)
    assert media.schema.simpleString() == multimodal.MEDIA_SCHEMA.simpleString()
    feats = multimodal.extract_features(media, dim=8).collect()
    assert len(feats) == 20
    assert all(len(r.feature) == 8 and r.decode_ok for r in feats)
    # determinism
    feats2 = multimodal.extract_features(media, dim=8).collect()
    assert sorted(map(str, feats)) == sorted(map(str, feats2))
    stats = multimodal.modality_stats(media).collect()
    assert stats[0].modality == "text" and stats[0].n == 20
    resized = multimodal.resize_images(media).collect()
    assert all(r.meta.width == 224 for r in resized)
    # real-codec mode routes non-BMP/WAV payloads (text here) to
    # decode_ok=False instead of crashing; real decode paths are
    # covered by test_multimodal_real_codecs_end_to_end
    routed = multimodal.extract_features(media, use_real_codecs=True).collect()
    assert all(not r.decode_ok for r in routed)
    # compressed-image resize still refuses loudly (no codec libs)
    with pytest.raises(Exception):
        multimodal.resize_images(media, use_real_codecs=True).collect()


def test_frame_sampling(spark):
    rows = [
        (1, "video", b"\x00" * 64, {"mime": "video/mp4", "width": None, "height": None, "duration_ms": 3500, "n_bytes": 64}),
        (2, "video", b"\x01" * 64, {"mime": "video/mp4", "width": None, "height": None, "duration_ms": 500, "n_bytes": 64}),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    frames = multimodal.sample_frames(media, every_ms=1000).collect()
    by_id = {}
    for r in frames:
        by_id.setdefault(r.media_id, []).append(r)
    assert len(by_id.get(1, [])) == 3
    assert 2 not in by_id  # sub-interval video yields no frames


def test_minhash_signature_varies_across_perms(spark):
    # regression: F.transform 2-arg lambdas receive (element, index) —
    # a seed passed via default arg gets shadowed and every perm
    # collapses to the same hash
    docs = spark.createDataFrame(
        [(0, "one two three four five six seven eight nine ten")],
        "doc_id long, text string",
    )
    sig = dedup.add_minhash(docs, num_perms=8).collect()[0].minhash
    assert len(set(sig)) > 1, "permutations must produce distinct min-hashes"


def test_simhash60_portable_identical_docs(spark):
    docs = spark.createDataFrame(
        [(0, "alpha beta gamma delta " * 10), (1, "alpha beta gamma delta " * 10),
         (2, "omega psi chi phi " * 10)],
        "doc_id long, text string",
    )
    pairs = dedup.simhash60_neardup_pairs(docs, max_hamming=3).collect()
    assert [(r.doc_a, r.doc_b, r.hamming) for r in pairs] == [(0, 1, 0)]


def test_simhash60_fits_60_bits(spark):
    docs = spark.createDataFrame([(0, "x y z w v u t s")], "doc_id long, text string")
    sh = dedup.simhash60_portable(docs).collect()[0].simhash
    assert 0 <= sh < (1 << 60)


def test_simhash60_blocking_threshold_guard(spark):
    docs = spark.createDataFrame([(0, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError):
        dedup.simhash60_neardup_pairs(docs, max_hamming=4)


def test_language_id_heuristic(spark):
    from hive_jq_udtf_spark.operators.text import language_id

    docs = spark.createDataFrame(
        [
            (0, "the cat and the dog went to the house that was there"),
            (1, "der Hund und die Katze ist das Haus schön"),
            (2, "le chat et la maison est les bons ou quoi"),
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r.pred_lang for r in language_id(docs).collect()}
    assert got == {0: "en", 1: "de", 2: "fr"}


def test_pairwise_cosine_empty_and_zero_vectors(spark):
    from hive_jq_udtf_spark.operators.similarity import pairwise_cosine

    empty = spark.createDataFrame([], "vec_id bigint, embedding array<float>")
    assert pairwise_cosine(empty, threshold=0.5).count() == 0
    z = spark.createDataFrame(
        [(1, [0.0] * 4), (2, [1.0, 0.0, 0.0, 0.0]), (3, [1.0, 0.0, 0.0, 0.0])],
        "vec_id bigint, embedding array<float>",
    )
    out = [(r.vec_a, r.vec_b) for r in pairwise_cosine(z, threshold=0.9).collect()]
    assert out == [(2, 3)]  # zero vector excluded (cosine undefined)


def test_minhash_empty_shingle_docs_no_ansi_error(spark):
    docs = spark.createDataFrame(
        [(1, "a b"), (2, "a b"), (3, "x")], "doc_id bigint, text string"
    )
    assert dedup.minhash_neardup_pairs(docs, n=3, threshold=0.8).collect() == []


def test_ivf_topk_recall_vs_brute(emb_df):
    import numpy as np

    from hive_jq_udtf_spark.operators.similarity import brute_force_topk, ivf_topk

    q = emb_df.where("vec_id < 3")
    cent = np.array(
        [r.embedding for r in emb_df.where("vec_id < 4").orderBy("vec_id").collect()],
        dtype=np.float64,
    )
    # probing ALL cells makes IVF exhaustive → must equal brute force
    ivf = ivf_topk(q, emb_df, cent, k=3, n_probe=4)
    brute = brute_force_topk(q, emb_df, k=3)
    got = {(r.query_id, r.rank): r.neighbor_id for r in ivf.collect()}
    want = {(r.query_id, r.rank): r.neighbor_id for r in brute.collect()}
    assert got == want


def test_salted_join_equals_plain_join(spark):
    from hive_jq_udtf_spark.operators.skew import salted_agg_count, salted_join

    left = spark.createDataFrame(
        [(1, "x")] * 50 + [(2, "y")] * 3, "k long, v string"  # key 1 is hot
    )
    right = spark.createDataFrame([(1, "A"), (2, "B"), (3, "C")], "k long, w string")
    got = salted_join(left, right, on="k", n_salts=4).groupBy("k", "w").count()
    want = left.join(right, on="k").groupBy("k", "w").count()
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, want.collect()))
    agg = {(r.k,): r.n for r in salted_agg_count(left, ["k"], n_salts=4).collect()}
    assert agg == {(1,): 50, (2,): 3}


def test_asof_join_semantics(spark):
    from hive_jq_udtf_spark.operators.asof import asof_join

    left = spark.createDataFrame(
        [(1, 10.0, "p1"), (1, 20.0, "p2"), (2, 5.0, "p3")],
        "k long, ts double, pid string",
    )
    right = spark.createDataFrame(
        [(1, 10.0, "c1"), (1, 15.0, "c2"), (1, 25.0, "c3"), (3, 1.0, "c4")],
        "k long, ts double, cid string",
    )
    out = {
        r.pid: (r.cid_r, r.ts_r)
        for r in asof_join(left, right, key="k", ts="ts", right_cols=["cid"]).collect()
    }
    assert out["p1"] == ("c1", 10.0)   # tie → right row matches (>= semantics)
    assert out["p2"] == ("c2", 15.0)   # latest at-or-before
    assert out["p3"] == (None, None)   # no right row for key


def test_interval_join_bucketed_exact(spark):
    import datetime as dt

    from hive_jq_udtf_spark.operators.range_join import interval_join_bucketed

    t0 = dt.datetime(2024, 1, 1)
    pts = spark.createDataFrame(
        [(1, t0 + dt.timedelta(hours=h), f"p{h}") for h in (0, 5, 30)],
        "k long, ts timestamp, pid string",
    )
    iv = spark.createDataFrame(
        [(1, t0, t0 + dt.timedelta(hours=6), "i1"),
         (1, t0 + dt.timedelta(hours=24), t0 + dt.timedelta(hours=48), "i2"),
         (2, t0, t0 + dt.timedelta(hours=100), "i3")],
        "k long, s timestamp, e timestamp, iid string",
    )
    out = interval_join_bucketed(pts, iv, key="k", ts="ts", start="s", end="e",
                                 bucket_seconds=3600)
    got = sorted((r.pid, r.iid) for r in out.collect())
    assert got == [("p0", "i1"), ("p30", "i2"), ("p5", "i1")]


def test_hash_sample_deterministic_and_stable(spark):
    from hive_jq_udtf_spark.operators.text import hash_sample, train_test_split

    df = spark.range(1000).withColumnRenamed("id", "doc_id")
    s1 = sorted(r.doc_id for r in hash_sample(df, "doc_id", 20).collect())
    s2 = sorted(r.doc_id for r in hash_sample(df.repartition(7), "doc_id", 20).collect())
    assert s1 == s2 and 120 < len(s1) < 280  # partitioning-invariant, ~20%
    sp = train_test_split(df, "doc_id", test_pct=10)
    counts = {r.split: r.n for r in sp.groupBy("split").agg(F.count("*").alias("n")).collect()}
    assert counts["test"] + counts["train"] == 1000 and 50 < counts["test"] < 180


def test_trained_ivf_beats_naive_centroids(emb_df):
    from hive_jq_udtf_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        train_centroids,
    )

    cent = train_centroids(emb_df, n_cells=4, sample_n=1000, iters=5)
    assert cent.shape == (4, 16)
    q = emb_df.where("vec_id < 3")
    ivf = ivf_topk(q, emb_df, cent, k=3, n_probe=4)  # all probes → exact
    brute = brute_force_topk(q, emb_df, k=3)
    got = {(r.query_id, r.rank): r.neighbor_id for r in ivf.collect()}
    want = {(r.query_id, r.rank): r.neighbor_id for r in brute.collect()}
    assert got == want
    # determinism: same inputs → identical centroids
    cent2 = train_centroids(emb_df, n_cells=4, sample_n=1000, iters=5)
    import numpy as np

    assert np.array_equal(cent, cent2)


def test_pairwise_cosine_tiled_equals_broadcast(spark):
    """The default tiled kernel (no driver collect) must emit exactly
    the pairs of the broadcast kernel, for numeric and string ids and
    for n_blocks larger than the row count."""
    import random

    from hive_jq_udtf_spark.operators.similarity import pairwise_cosine

    rng = random.Random(11)
    rows = [
        (i, [rng.gauss(0, 1) for _ in range(16)]) for i in range(120)
    ]
    # plant near-dups
    for a, b in [(0, 60), (7, 99), (20, 21)]:
        rows[b] = (b, [x * 1.001 for x in rows[a][1]])
    df = spark.createDataFrame(rows, "vec_id bigint, embedding array<float>")
    for nb in (1, 3, 8, 200):
        tiled = {
            (r.vec_a, r.vec_b, round(r.cosine, 9))
            for r in pairwise_cosine(df, threshold=0.8, n_blocks=nb).collect()
        }
        bcast = {
            (r.vec_a, r.vec_b, round(r.cosine, 9))
            for r in pairwise_cosine(df, threshold=0.8, small_corpus=True).collect()
        }
        assert tiled == bcast, f"n_blocks={nb}"
        assert {(a, b) for a, b, _ in tiled} >= {(0, 60), (7, 99), (20, 21)}
    sdf = spark.createDataFrame(
        [(f"id{i:03d}", v) for i, v in rows], "vec_id string, embedding array<float>"
    )
    tiled_s = {
        (r.vec_a, r.vec_b)
        for r in pairwise_cosine(sdf, threshold=0.8, n_blocks=5).collect()
    }
    bcast_s = {
        (r.vec_a, r.vec_b)
        for r in pairwise_cosine(sdf, threshold=0.8, small_corpus=True).collect()
    }
    assert tiled_s == bcast_s
    assert all(a < b for a, b in tiled_s)


def test_lsss_components_chain_and_equivalence(spark):
    """Large-star/small-star converges on a long chain in O(log n)
    rounds (label prop needs O(n)) and agrees with label propagation
    on clustered graphs."""
    import random

    from hive_jq_udtf_spark.operators.dedup import (
        connected_components,
        connected_components_lsss,
    )

    # chain 0-1-...-120: diameter 120, but LS/SS must finish in <=15
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(120)], "doc_a bigint, doc_b bigint"
    )
    comps = {
        r.doc_id: r.component
        for r in connected_components_lsss(chain, max_iter=15).collect()
    }
    assert len(comps) == 121 and set(comps.values()) == {0}

    rng = random.Random(9)
    edges = []
    for c in range(12):
        members = list(range(c * 20, c * 20 + rng.randint(2, 12)))
        for i, m in enumerate(members[1:], 1):
            edges.append((rng.choice(members[:i]), m))
    df = spark.createDataFrame(edges, "doc_a bigint, doc_b bigint")
    a = {(r.doc_id, r.component) for r in connected_components(df).collect()}
    b = {(r.doc_id, r.component) for r in connected_components_lsss(df).collect()}
    assert a == b


def test_lsss_components_string_ids_and_selfloop(spark):
    from hive_jq_udtf_spark.operators.dedup import connected_components_lsss

    df = spark.createDataFrame(
        [("b", "a"), ("c", "b"), ("x", "x"), ("z", "y")],
        "doc_a string, doc_b string",
    )
    comps = {
        r.doc_id: r.component for r in connected_components_lsss(df).collect()
    }
    # self-loop-only node x contributes no edge and no node
    assert comps == {"a": "a", "b": "a", "c": "a", "y": "y", "z": "y"}


def test_multimodal_bench_decoder_batch_shape(spark):
    """The throughput harness's vectorized decoder must agree with the
    operator-module fake decoder and respect the mapInPandas batch
    contract (iterator in, iterator out)."""
    from hive_jq_udtf_spark.operators.multimodal import (
        _fake_decode_features,
        docs_as_media,
    )
    from tools.multimodal_bench import _decode_batch

    docs = spark.createDataFrame(
        [(1, "hello world", "en", "s", 11), (2, "abc", "de", "s", 3)],
        "doc_id bigint, text string, lang string, source string, n_chars bigint",
    )
    media = docs_as_media(docs).select("media_id", "content")
    out = {
        r.media_id: r.feature
        for r in media.mapInPandas(
            _decode_batch, "media_id long, feature array<double>"
        ).collect()
    }
    exp = {
        r["media_id"]: _fake_decode_features(bytes(r["content"]), "text", 8)
        for r in media.collect()
    }
    assert set(out) == {1, 2}
    for k in out:
        assert [round(x, 9) for x in out[k]] == [round(x, 9) for x in exp[k]]


# ---------------------------------------------------------------------------
# round-2 wave 2: curation operators (chunk dedup / decontaminate /
# repetition / PII)
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def span_docs(spark):
    # doc 0 and doc 1 share their first 5-word chunk exactly; doc 2 is
    # unrelated; doc 3 repeats one bigram heavily
    rows = [
        (0, "a b c d e f g h i j"),
        (1, "a b c d e x y z w v"),
        (2, "p q r s t u m n o k"),
        (3, "hot dog hot dog hot dog hot dog hot dog"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_chunk_dedup_removes_repeated_span(span_docs):
    out = {r.doc_id: r for r in dedup.chunk_dedup(span_docs, width=5).collect()}
    assert out[0].n_chunks == 2 and out[0].n_removed == 0
    # doc 1's first chunk duplicates doc 0's → removed, second kept
    assert out[1].n_chunks == 2 and out[1].n_removed == 1
    assert out[2].n_removed == 0
    # doc 3: chunks "hot dog hot dog hot" / "dog hot dog hot dog" distinct → kept
    assert out[3].n_removed == 0
    # reassembly hash of doc 1 = md5 of its surviving second chunk
    import hashlib

    assert out[1].kept_hash == hashlib.md5(b"x y z w v").hexdigest()


def test_chunk_dedup_all_removed_hashes_empty(spark):
    rows = [(0, "a b c"), (1, "a b c")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.chunk_dedup(df, width=5).collect()}
    import hashlib

    assert out[1].n_removed == 1
    assert out[1].kept_hash == hashlib.md5(b"").hexdigest()


def test_decontaminate_flags_ngram_overlap(spark):
    ev = spark.createDataFrame(
        [(100, "one two three four five six seven eight tail")],
        "doc_id long, text string",
    )
    tr = spark.createDataFrame(
        [
            (1, "zzz one two three four five six seven eight yyy"),  # overlaps
            (2, "one two three four five six seven distinct words here"),  # 7 < 8
            (3, "short doc"),
        ],
        "doc_id long, text string",
    )
    out = {r.doc_id: r.contaminated for r in dedup.decontaminate(tr, ev, n=8).collect()}
    assert out == {1: True, 2: False, 3: False}


def test_repetition_stats_and_gate(span_docs):
    stats = {r.doc_id: r for r in text.repetition_stats(span_docs).collect()}
    # doc 3: bigrams: "hot dog"×5, "dog hot"×4 → top frac 5/9
    assert stats[3].top_bigram_frac == round(5 / 9, 4)
    # 2 distinct words of 10 → dup_word_frac 0.8
    assert stats[3].dup_word_frac == 0.8
    assert stats[0].top_bigram_frac == round(1 / 9, 4)
    assert stats[0].dup_word_frac == 0.0
    gated = {r.doc_id: r.rep_pass for r in text.repetition_filter(span_docs, 0.2, 0.5).collect()}
    assert gated[0] and gated[2] and not gated[3]


def test_repetition_single_word_doc(spark):
    df = spark.createDataFrame([(0, "solo")], "doc_id long, text string")
    r = text.repetition_stats(df).collect()[0]
    assert r.top_bigram_frac == 0.0 and r.dup_word_frac == 0.0


def test_pii_redact_counts_and_order(spark):
    df = spark.createDataFrame(
        [
            (0, "mail a.b@x.io and c@d.org call 555-123-4567 host 10.0.0.1"),
            (1, "no pii here at all"),
        ],
        "id long, t string",
    )
    out = {r.id: r for r in text.pii_redact(df, "t").collect()}
    assert (out[0].n_email, out[0].n_phone, out[0].n_ipv4) == (2, 1, 1)
    assert out[0].redacted == "mail [PII] and [PII] call [PII] host [PII]"
    assert (out[1].n_email, out[1].n_phone, out[1].n_ipv4) == (0, 0, 0)
    assert out[1].redacted == "no pii here at all"


# ---------------------------------------------------------------------------
# round-2 wave 3: mixture sampling + quality classifier
# ---------------------------------------------------------------------------


def test_mixture_sample_hits_target_proportions(spark):
    # 400 a-rows, 100 b-rows; target 50/50 -> b binds (kept whole),
    # a thinned to ~100
    rows = [(i, "a" if i < 400 else "b") for i in range(500)]
    df = spark.createDataFrame(rows, "doc_id long, dom string")
    out = text.mixture_sample(df, "dom", {"a": 0.5, "b": 0.5}, id_col="doc_id")
    by = {r.dom: r.n for r in out.groupBy("dom").agg(F.count("*").alias("n")).collect()}
    assert by["b"] == 100              # binding domain kept whole
    assert 80 <= by["a"] <= 120        # hash-thinned to ~100 (threshold 2500/10000)


def test_mixture_sample_unlisted_domain_dropped(spark):
    df = spark.createDataFrame(
        [(0, "a"), (1, "junk")], "doc_id long, dom string"
    )
    out = text.mixture_sample(df, "dom", {"a": 1.0}, id_col="doc_id")
    assert [r.dom for r in out.collect()] == ["a"]


def test_mixture_sample_deterministic(spark):
    rows = [(i, "a" if i % 3 else "b") for i in range(300)]
    df = spark.createDataFrame(rows, "doc_id long, dom string")
    w = {"a": 0.6, "b": 0.4}
    ids1 = sorted(r.doc_id for r in text.mixture_sample(df, "dom", w).collect())
    ids2 = sorted(
        r.doc_id
        for r in text.mixture_sample(df.repartition(7), "dom", w).collect()
    )
    assert ids1 == ids2


def test_quality_classifier_prefers_prose(spark):
    prose = "the cat sat on the mat and it was a fine day in the sun for it"
    soup = "x9 7713 00 zz 4418 9 1 0 33 77 128 991 2 3"
    df = spark.createDataFrame(
        [(0, prose), (1, soup)], "doc_id long, text string"
    )
    out = {r.doc_id: r for r in text.quality_classify(df).collect()}
    assert out[0].q_score > out[1].q_score
    assert out[0].q_pass and not out[1].q_pass


def test_quality_features_values(spark):
    df = spark.createDataFrame([(0, "the cat 42")], "doc_id long, text string")
    r = text.quality_features(df).collect()[0]
    import math

    assert r.log_n_words == round(math.log(3), 6)
    assert r.stop_frac == round(1 / 3, 6)
    # 10 chars - 2 separators = 8 letters over 3 words
    assert r.avg_word_len == round(8 / 3, 6)
    assert r.digit_frac == round(2 / 10, 6)


# ---------------------------------------------------------------------------
# full-text retrieval: inverted index / BM25 / DSIR importance weights
# ---------------------------------------------------------------------------


@pytest.fixture(scope="module")
def tiny_corpus(spark):
    rows = [
        ("d1", "vector stream engine", "en"),
        ("d2", "vector vector window join", "en"),
        ("d3", "totally unrelated words here", "en"),
        ("d4", "flux vector rapide", "fr"),
    ]
    return spark.createDataFrame(rows, "doc_id string, text string, lang string")


def test_build_postings_tf(tiny_corpus):
    from hive_jq_udtf_spark.operators import index

    p = {(r.token, r.doc_id): r.tf for r in index.build_postings(tiny_corpus).collect()}
    assert p[("vector", "d2")] == 2
    assert p[("vector", "d1")] == 1
    assert ("", "d1") not in p  # empty split artifacts dropped


def test_bm25_ranking_and_values(tiny_corpus):
    import math

    from hive_jq_udtf_spark.operators import index

    rows = index.bm25_topk(tiny_corpus, ["vector", "window"], k=10).collect()
    got = {r.doc_id: r.bm25 for r in rows}
    # d2 has tf(vector)=2 AND the rare term "window" -> must rank first
    assert rows[0].doc_id == "d2"
    assert set(got) == {"d1", "d2", "d4"}
    # hand-computed check for d1: one "vector" hit, dl=3, avgdl=14/4
    n, df_v, tf, dl, avgdl, k1, b = 4, 3, 1, 3, 14 / 4, 1.2, 0.75
    idf = math.log(1 + (n - df_v + 0.5) / (df_v + 0.5))
    expect = idf * tf * (k1 + 1) / (tf + k1 * (1 - b + b * dl / avgdl))
    assert got["d1"] == round(expect, 4)


def test_importance_weights_direction(tiny_corpus):
    from hive_jq_udtf_spark.operators import index

    w = {
        r.doc_id: r.log_weight
        for r in index.importance_weights(
            tiny_corpus, F.col("lang") != "en", buckets=32
        ).collect()
    }
    # the French doc IS the target slice: its tokens must score highest
    assert w["d4"] == max(w.values())
    # target-absent vocabulary scores negative (down-weighted)
    assert w["d3"] < 0


def test_cms_overestimates_and_exact_when_collision_free(tiny_corpus):
    """CMS invariants: est >= true for EVERY token (one-sided error),
    and with width far above the distinct-token count the sketch is
    collision-free so every estimate is exact."""
    from hive_jq_udtf_spark.operators.sketch import cms_heavy_hitters

    rows = cms_heavy_hitters(tiny_corpus, k=100, depth=4, width=4096).collect()
    assert len(rows) == 11  # distinct tokens in the corpus
    for r in rows:
        assert r.est_cnt >= r.true_cnt
        assert r.overest == r.est_cnt - r.true_cnt
        assert r.within_bound  # eps*N >> 0 collisions here
        assert r.est_cnt == r.true_cnt  # collision-free at width 4096
    got = {r.token: r.true_cnt for r in rows}
    assert got["vector"] == 4 and got["window"] == 1


def test_cms_tight_width_still_one_sided(spark):
    """Crush the sketch (width 8) so collisions are guaranteed: the
    estimate must NEVER undercount, and the heavy hitter must still
    surface at the top of the estimate ordering."""
    from pyspark.sql import functions as F

    from hive_jq_udtf_spark.operators.sketch import cms_heavy_hitters

    docs = spark.createDataFrame(
        [(i, "hot " * 50 + f"w{i} x{i} y{i}") for i in range(40)],
        "doc_id long, text string",
    )
    rows = cms_heavy_hitters(docs, k=5, depth=4, width=8).collect()
    assert all(r.est_cnt >= r.true_cnt for r in rows)
    assert rows[0].true_cnt == 2000  # "hot" 50x in 40 docs


def test_semantic_dedup_drops_within_cell_dups(spark):
    """Identical vectors land in the same cell and the higher id is
    dropped; a near-orthogonal vector survives even in the same cell;
    cross-cell duplicates are NOT dropped (the documented recall
    trade-off of cell confinement)."""
    import numpy as np

    from hive_jq_udtf_spark.operators.similarity import semantic_dedup

    c0 = [1.0, 0.0, 0.0, 0.0]
    c1 = [0.0, 1.0, 0.0, 0.0]
    rows = [
        (10, [0.9, 0.1, 0.0, 0.0]),   # cell 0
        (11, [0.9, 0.1, 0.0, 0.0]),   # duplicate of 10 -> dropped
        (12, [0.0, 0.05, 0.9, 0.0]),  # cell 0-or-1 but orthogonal -> kept
        (20, [0.1, 0.9, 0.0, 0.0]),   # cell 1
        (21, [0.1, 0.9, 0.0, 0.0]),   # duplicate of 20 -> dropped
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = semantic_dedup(df, np.array([c0, c1]), threshold=0.95)
    got = sorted(r["vec_id"] for r in out.collect())
    assert got == [10, 12, 20]


def test_interval_overlap_pairs_exactly_once(spark):
    """Pairs spanning many shared buckets are emitted exactly once
    (report-once filter, no dedup exchange); non-overlapping and
    cross-key intervals never pair; touching endpoints DO overlap."""
    from hive_jq_udtf_spark.operators.range_join import interval_overlap_pairs

    rows = [
        # key 1: a long interval overlapping two shorter ones
        (1, 10, "2024-01-01 00:00:00", "2024-06-30 00:00:00"),
        (1, 11, "2024-02-01 00:00:00", "2024-02-15 00:00:00"),
        (1, 12, "2024-06-30 00:00:00", "2024-07-10 00:00:00"),  # touches 10
        (1, 13, "2024-08-01 00:00:00", "2024-08-02 00:00:00"),  # disjoint
        # key 2: same dates as 11 but different key -> no cross pair
        (2, 21, "2024-02-01 00:00:00", "2024-02-15 00:00:00"),
    ]
    df = spark.createDataFrame(
        rows, "k int, id int, s string, e string"
    ).select("k", "id", F.to_timestamp("s").alias("s"), F.to_timestamp("e").alias("e"))
    out = interval_overlap_pairs(df, "k", "id", "s", "e", bucket_seconds=7 * 86400)
    got = sorted((r["id_a"], r["id_b"]) for r in out.collect())
    assert got == [(10, 11), (10, 12)]


def test_new_operators_tolerate_empty_inputs(spark):
    """ANSI-mode probes: empty frames through every wave-2 operator
    (Spark 4 throws on div-by-zero/overflow — an empty aggregate or
    an unguarded division would surface here)."""
    import numpy as np

    from hive_jq_udtf_spark.operators.graph import k_core, triangle_count
    from hive_jq_udtf_spark.operators.range_join import interval_overlap_pairs
    from hive_jq_udtf_spark.operators.similarity import semantic_dedup
    from hive_jq_udtf_spark.operators.tdigest import tdigest_quantiles

    empty_edges = spark.createDataFrame([], "src long, dst long")
    r = k_core(empty_edges, k=3, steps=3).first()
    assert (r["n_core_nodes"], r["n_core_edges"], r["converged"]) == (0, 0, True)
    assert triangle_count(empty_edges).first()["n_triangles"] == 0

    empty_iv = spark.createDataFrame([], "k int, id int, s timestamp, e timestamp")
    assert interval_overlap_pairs(empty_iv, "k", "id", "s", "e").count() == 0

    empty_emb = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert semantic_dedup(empty_emb, np.array([[1.0, 0.0]]), 0.9).count() == 0

    empty_vals = spark.createDataFrame([], "g string, x double")
    assert tdigest_quantiles(empty_vals, "g", "x", [0.5]).count() == 0


def test_sliding_chunks_coverage_and_overlap(spark):
    """Every token lands in >=1 chunk; adjacent chunks overlap by
    chunk_tokens - stride; short tails kept; empty docs dropped."""
    from hive_jq_udtf_spark.operators.text import sliding_chunks

    text = " ".join(f"t{i}" for i in range(10))
    df = spark.createDataFrame(
        [(1, text), (2, "a b"), (3, "")], "doc_id long, text string"
    )
    rows = sliding_chunks(df, chunk_tokens=4, stride=3).collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc_id"], []).append(r)
    # doc 1: starts 0,3,6,9 -> sizes 4,4,4,1
    d1 = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    assert [r["start_tok"] for r in d1] == [0, 3, 6, 9]
    assert [r["n_toks"] for r in d1] == [4, 4, 4, 1]
    # coverage: union of [start, start+n) == all 10 token positions
    covered = set()
    for r in d1:
        covered |= set(range(r["start_tok"], r["start_tok"] + r["n_toks"]))
    assert covered == set(range(10))
    # overlap: consecutive chunks share chunk_tokens - stride tokens
    assert d1[0]["chunk_text"].split()[3] == d1[1]["chunk_text"].split()[0]
    # doc 2: one short chunk; doc 3 (empty): none
    assert [r["n_toks"] for r in by_doc[2]] == [2]
    assert 3 not in by_doc
    import pytest as _pytest

    with _pytest.raises(ValueError):
        sliding_chunks(df, chunk_tokens=4, stride=5)


def test_topk_per_key_dynamic(spark):
    from pyspark.sql import functions as F

    from hive_jq_udtf_spark.operators.topk import topk_per_key_dynamic

    rows = [
        ("a", i, float(100 - i)) for i in range(10)
    ] + [("b", i, float(50 - i)) for i in range(10)]
    df = spark.createDataFrame(rows, ["key", "id", "score"]).withColumn(
        "k", F.when(F.col("key") == "a", 2).otherwise(4)
    )
    out = topk_per_key_dynamic(
        df, ["key"], [F.col("score").desc(), F.col("id")], "k", max_k=4
    ).collect()
    by_key = {}
    for r in out:
        by_key.setdefault(r.key, []).append((r.rk, r.id))
    assert sorted(by_key["a"]) == [(1, 0), (2, 1)]  # k=2
    assert sorted(by_key["b"]) == [(1, 0), (2, 1), (3, 2), (4, 3)]  # k=4


def test_join_cardinality_estimate_bounds(spark):
    from hive_jq_udtf_spark.operators.joinest import join_cardinality_estimate

    # 100 left keys, each appearing 5x on the right: est = 100*500/100
    left = spark.range(100).withColumnRenamed("id", "k")
    right = (
        spark.range(500)
        .selectExpr("id % 100 AS k")
    )
    est = join_cardinality_estimate(left, right, "k", "k").collect()[0]
    assert est.n_left == 100 and est.n_right == 500
    true = 500  # each right row matches exactly one left row
    assert abs(est.est_join_rows - true) <= 0.1 * true
    # empty side → zero estimate, no division error
    empty = spark.range(0).withColumnRenamed("id", "k")
    e2 = join_cardinality_estimate(empty, right, "k", "k").collect()[0]
    assert e2.est_join_rows == 0


def test_kmeans_separated_clusters(spark):
    from hive_jq_udtf_spark.operators.kmeans import assign_clusters, kmeans_fit

    # two tight, well-separated blobs -> k=2 must recover them exactly
    rows = [(i, [0.0 + 0.01 * i, 0.0]) for i in range(5)] + [
        (10 + i, [10.0 + 0.01 * i, 10.0]) for i in range(5)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    cents, assigned = kmeans_fit(df, k=2, iters=3)
    got = {r.vec_id: r.cluster_id for r in assigned.collect()}
    low = {got[i] for i in range(5)}
    high = {got[10 + i] for i in range(5)}
    assert len(low) == 1 and len(high) == 1 and low != high
    # centroids converge to the blob means (rounded)
    cl = cents[low.pop()]
    assert abs(cl[0] - 0.02) < 1e-6 and abs(cl[1] - 0.0) < 1e-6

    # assignment tie-break: equidistant point goes to the LOWEST cid
    tie = spark.createDataFrame(
        [(0, [5.0, 5.0])], "vec_id long, embedding array<double>"
    )
    out = assign_clusters(tie, [[0.0, 0.0], [10.0, 10.0]]).collect()[0]
    assert out.cluster_id == 0

    # assignment is pure codegen: no Python node in the plan
    plan = (
        assign_clusters(df, cents)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "EvalPython" not in plan and "MapInPandas" not in plan

    import pytest as _pytest

    with _pytest.raises(ValueError):
        kmeans_fit(df, k=50, iters=1)  # fewer vectors than k


def test_codecs_bmp_roundtrip_and_resize():
    import numpy as np

    from hive_jq_udtf_spark.operators import codecs

    rng = np.random.RandomState(7)
    for h, w in [(5, 5), (7, 3), (1, 9), (13, 2)]:  # odd widths hit row padding
        px = rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)
        assert np.array_equal(codecs.decode_bmp(codecs.encode_bmp(px)), px)
    # nearest-neighbor reference: upscale 2x duplicates each pixel
    px = np.arange(12, dtype=np.uint8).reshape(2, 2, 3)
    up = codecs.resize_rgb_nearest(px, 4, 4)
    assert up.shape == (4, 4, 3)
    assert np.array_equal(up[0, 0], px[0, 0]) and np.array_equal(up[3, 3], px[1, 1])
    assert np.array_equal(up[1, 1], px[0, 0])  # top-left quadrant
    import pytest as _pytest

    with _pytest.raises(ValueError):
        codecs.decode_bmp(b"JUNKJUNKJUNKJUNK")


def test_codecs_png_roundtrip_all_filters():
    """r10 (VERDICT #5): from-scratch baseline PNG.  Roundtrips on
    RGB and RGBA across shapes, with 'mixed' encoding cycling all 5
    scanline filters so every unfilter path (None/Sub/Up/Average/
    Paeth) is exercised on real pixel data; zlib recompression is
    format-level (output parses as chunks with valid CRCs)."""
    import numpy as np
    import pytest as _pytest

    from hive_jq_udtf_spark.operators import codecs

    rng = np.random.RandomState(17)
    for c in (3, 4):
        # ≥6 rows makes 'mixed' hit filter 4 (Paeth); w=1 stresses
        # the first-pixel branches; gradients stress Sub/Average
        for h, w in [(6, 5), (7, 1), (1, 9), (12, 4)]:
            px = rng.randint(0, 256, size=(h, w, c), dtype=np.uint8)
            for mode in ("none", "mixed"):
                data = codecs.encode_png(px, filter_mode=mode)
                assert data[:8] == b"\x89PNG\r\n\x1a\n"
                assert np.array_equal(codecs.decode_png(data), px), (c, h, w, mode)
        grad = (
            np.arange(8 * 6 * c, dtype=np.int64).reshape(8, 6, c) * 7 % 256
        ).astype(np.uint8)
        assert np.array_equal(
            codecs.decode_png(codecs.encode_png(grad, filter_mode="mixed")), grad
        )

    # resize keeps the channel count (RGBA-safe nearest-neighbor)
    px = rng.randint(0, 256, size=(4, 4, 4), dtype=np.uint8)
    out = codecs.decode_png(
        codecs.encode_png(codecs.resize_rgb_nearest(px, 8, 8))
    )
    assert out.shape == (8, 8, 4)

    # corrupt inputs raise, never return garbage pixels
    good = codecs.encode_png(px)
    with _pytest.raises(ValueError):
        codecs.decode_png(b"JUNKJUNKJUNKJUNK")
    flipped = bytearray(good)
    flipped[40] ^= 0xFF  # inside IDAT body -> CRC mismatch
    with _pytest.raises(ValueError):
        codecs.decode_png(bytes(flipped))
    # interlaced / paletted / 16-bit variants are explicit errors
    import struct as _struct
    import zlib as _zlib

    def make_hdr(depth, color, interlace):
        body = _struct.pack(">IIBBBBB", 2, 2, depth, color, 0, 0, interlace)
        return (
            b"\x89PNG\r\n\x1a\n"
            + _struct.pack(">I", len(body))
            + b"IHDR"
            + body
            + _struct.pack(">I", _zlib.crc32(b"IHDR" + body) & 0xFFFFFFFF)
            + good[8 + 25 :]  # reuse the valid IDAT/IEND tail
        )

    for depth, color, interlace in [(16, 2, 0), (8, 3, 0), (8, 2, 1)]:
        with _pytest.raises(ValueError, match="unsupported PNG variant"):
            codecs.decode_png(make_hdr(depth, color, interlace))


def test_codecs_wav_roundtrip_and_features():
    import numpy as np

    from hive_jq_udtf_spark.operators import codecs

    t = np.arange(1600)
    sig = (np.sin(2 * np.pi * 440 * t / 16000) * 16000).astype(np.int16)
    out, rate = codecs.decode_wav(codecs.encode_wav(sig, 16000))
    assert rate == 16000 and np.array_equal(out, sig)
    mean, rms, peak, zcr = codecs.wav_features(out)
    assert abs(mean) < 1e-3          # sine is zero-mean
    assert abs(rms - (16000 / 32768.0) / np.sqrt(2)) < 1e-3
    assert 0.4 < peak < 0.5
    assert 0.04 < zcr < 0.07         # 440 Hz at 16 kHz -> ~0.055 crossings/sample
    # silence
    assert codecs.wav_features(np.zeros(10, dtype=np.int16)) == [0.0, 0.0, 0.0, 0.0]


def test_multimodal_real_codecs_end_to_end(spark):
    import numpy as np

    from hive_jq_udtf_spark.operators import codecs, multimodal

    rng = np.random.RandomState(11)
    imgs = {i: rng.randint(0, 256, size=(6, 5, 3), dtype=np.uint8) for i in range(3)}
    sigs = {i: (rng.randint(-2000, 2000, size=800)).astype(np.int16) for i in (10, 11)}
    rows = [
        (i, "image", bytearray(codecs.encode_bmp(px)),
         {"mime": "image/bmp", "width": 5, "height": 6, "duration_ms": None,
          "n_bytes": len(codecs.encode_bmp(px))})
        for i, px in imgs.items()
    ] + [
        (i, "audio", bytearray(codecs.encode_wav(s)),
         {"mime": "audio/wav", "width": None, "height": None,
          "duration_ms": 50, "n_bytes": len(codecs.encode_wav(s))})
        for i, s in sigs.items()
    ] + [
        (99, "image", bytearray(b"\x89PNG fake"), 
         {"mime": "image/png", "width": 1, "height": 1, "duration_ms": None,
          "n_bytes": 9}),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = {
        r.media_id: r
        for r in multimodal.extract_features(media, dim=4, use_real_codecs=True).collect()
    }
    # BMP features match a local numpy reference bit-for-bit
    for i, px in imgs.items():
        ref = px.astype(np.float64) / 255.0
        got = feats[i]
        assert got.decode_ok
        assert abs(got.feature[0] - ref[:, :, 0].mean()) < 1e-6
        assert abs(got.feature[3] - ref.std()) < 1e-6
    for i, s in sigs.items():
        assert feats[i].decode_ok
        ref = codecs.wav_features(s)
        assert all(abs(a - b) < 1e-6 for a, b in zip(feats[i].feature, ref))
    # the PNG payload is routed, not crashed on
    assert not feats[99].decode_ok and feats[99].feature == [0.0] * 4

    # real resize: decode(output) has the target shape, content is the
    # nearest-neighbor of the input
    bmp_only = spark.createDataFrame(rows[:3], multimodal.MEDIA_SCHEMA)
    out = {r.media_id: r for r in multimodal.resize_images(
        bmp_only, width=10, height=12, use_real_codecs=True).collect()}
    for i, px in imgs.items():
        dec = codecs.decode_bmp(bytes(out[i].content))
        assert dec.shape == (12, 10, 3)
        assert np.array_equal(dec, codecs.resize_rgb_nearest(px, 10, 12))
        assert out[i].meta.width == 10 and out[i].meta.n_bytes == len(bytes(out[i].content))


def test_bpe_learn_encode_roundtrip_and_reference(spark):
    """r10: the BPE tokenizer loop (learn driver-side on a sample,
    apply distributed).  Pins: (1) rank-greedy encode_word against an
    INDEPENDENT step-by-step reference (re-running the training merge
    sequence on the word — training replay and rank-greedy inference
    must agree on in-sample words, the classic BPE identity); (2)
    token-join roundtrip (BPE partitions each word); (3) the Spark op
    equals a local pure-Python computation doc-for-doc; (4)
    determinism of the learned table."""
    import random

    from hive_jq_udtf_spark.operators.bpe import (
        _EOW,
        bpe_encode,
        encode_word,
        learn_bpe,
    )

    rng = random.Random(23)
    vocab_words = ["the", "there", "then", "other", "thesis", "rest", "rusty",
                   "rust", "trust", "lower", "lowest", "newer", "newest", "new"]
    texts = [
        " ".join(rng.choice(vocab_words) for _ in range(rng.randint(3, 30)))
        for _ in range(120)
    ]
    merges = learn_bpe(texts, num_merges=40)
    assert merges == learn_bpe(texts, num_merges=40)  # deterministic
    assert 5 <= len(merges) <= 40
    ranks = {p: i for i, p in enumerate(merges)}

    def reference_encode(word):
        # independent path: replay the TRAINING merges in rank order
        # (each pass merges every occurrence of that one pair)
        syms = list(word[:-1]) + [word[-1] + _EOW]
        for left, right in merges:
            out, i = [], 0
            while i < len(syms):
                if i < len(syms) - 1 and syms[i] == left and syms[i + 1] == right:
                    out.append(left + right)
                    i += 2
                else:
                    out.append(syms[i])
                    i += 1
            syms = out
        return syms

    for w in vocab_words + ["unseen", "xqzt", "a"]:
        got = encode_word(w, ranks)
        assert got == reference_encode(w), w
        # roundtrip: tokens join back to the word
        assert "".join(got).replace(_EOW, "") == w, w
        # common in-sample words should actually compress
    assert len(encode_word("the", ranks)) < 3

    # Spark op == local computation, doc for doc
    rows = [(i, t) for i, t in enumerate(texts[:40])] + [(99, None), (98, "")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r.doc_id: r for r in bpe_encode(df, merges).collect()}
    # carry_cols pass metadata through the Arrow batch row-aligned
    dfc = df.selectExpr("doc_id", "text", "CAST(doc_id % 3 AS STRING) AS src")
    for r in bpe_encode(dfc, merges, carry_cols=["src"]).collect():
        assert r.src == str(r.doc_id % 3)
        assert (r.n_words, r.n_tokens, r.n_chars) == (
            got[r.doc_id].n_words, got[r.doc_id].n_tokens, got[r.doc_id].n_chars)
    for did, text in rows:
        words = (text or "").split()
        toks = sum(len(encode_word(w, ranks)) for w in words)
        chars = sum(len(w) for w in words)
        g = got[did]
        assert (g.n_words, g.n_tokens, g.n_chars) == (len(words), toks, chars), did
        assert g.compression == (round(toks / chars, 6) if chars else 0.0)


def test_kmv_estimates_and_exact_small_sets(spark):
    from hive_jq_udtf_spark.operators.kmv import (
        kmv_distinct,
        kmv_intersection,
        kmv_sketches,
    )

    # A = 0..999, B = 500..1499 -> |A|=|B|=1000, |A∩B|=500
    rows = [("a", i) for i in range(1000)] + [("b", i) for i in range(500, 1500)]
    df = spark.createDataFrame(rows, "s string, v long")
    k = 128
    sk = kmv_sketches(df, "s", "v", k=k)
    assert len(sk["a"]) == k and sk["a"] == sorted(sk["a"])
    da, db = kmv_distinct(sk["a"], k), kmv_distinct(sk["b"], k)
    assert abs(da - 1000) < 0.3 * 1000 and abs(db - 1000) < 0.3 * 1000
    inter = kmv_intersection(sk["a"], sk["b"], k)
    assert abs(inter - 500) < 0.45 * 500  # J-estimate noise ~1/sqrt(k·J)
    # sets smaller than k: sketch IS the set -> exact
    small = spark.createDataFrame(
        [("x", i) for i in range(50)] + [("y", i) for i in range(25, 75)],
        "s string, v long",
    )
    sk2 = kmv_sketches(small, "s", "v", k=k)
    assert kmv_distinct(sk2["x"], k) == 50.0
    assert kmv_intersection(sk2["x"], sk2["y"], k) == 25.0
    # the k-smallest filter plans as WindowGroupLimit (bounded collect)
    from pyspark.sql import functions as F, Window

    h = (F.xxhash64("v").cast("double")).alias("u")
    d = df.select(F.col("s"), h).dropDuplicates(["s", "u"])
    w = Window.partitionBy("s").orderBy("u")
    plan = (
        d.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= k)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


def test_codecs_resample_crop_letterbox():
    import numpy as np

    from hive_jq_udtf_spark.operators import codecs

    # resample: a linear ramp stays a linear ramp at any rate
    ramp = np.linspace(-10000, 10000, 160).astype(np.int16)
    up = codecs.resample_pcm(ramp, 8000, 16000)
    assert len(up) == 320
    diffs = np.diff(up.astype(np.int64))
    assert diffs.min() >= 0 and abs(int(up[0]) - int(ramp[0])) <= 1
    down = codecs.resample_pcm(ramp, 8000, 4000)
    assert len(down) == 80 and np.array_equal(down, ramp[0::2])  # exact 2:1 picks
    assert len(codecs.resample_pcm(np.array([], dtype=np.int16), 8000, 4000)) == 0

    rng = np.random.RandomState(5)
    px = rng.randint(0, 256, size=(8, 6, 3), dtype=np.uint8)
    crop = codecs.crop_rgb(px, 1, 2, 4, 3)
    assert crop.shape == (3, 4, 3) and np.array_equal(crop, px[2:5, 1:5])
    import pytest as _pytest

    with _pytest.raises(ValueError):
        codecs.crop_rgb(px, 4, 0, 4, 3)  # runs off the right edge

    boxed = codecs.letterbox_rgb(px, 12, 8, fill=7)
    assert boxed.shape == (8, 12, 3)
    # 8x6 -> scale=min(12/6, 8/8)=1.0 -> content 8 rows x 6 cols centered
    assert np.array_equal(boxed[:, 3:9], px)
    assert (boxed[:, :3] == 7).all() and (boxed[:, 9:] == 7).all()


def test_topk_dynamic_null_k_yields_no_rows(spark):
    from pyspark.sql import functions as F

    from hive_jq_udtf_spark.operators.topk import topk_per_key_dynamic

    df = spark.createDataFrame(
        [("a", 1, 9.0), ("a", 2, 8.0), ("b", 3, 7.0)], "key string, id long, score double"
    ).withColumn("k", F.when(F.col("key") == "a", 2))  # b -> NULL k
    out = topk_per_key_dynamic(
        df, ["key"], [F.col("score").desc(), F.col("id")], "k", max_k=4
    ).collect()
    assert sorted((r.key, r.id) for r in out) == [("a", 1), ("a", 2)]  # b dropped


def test_dbscan_two_blobs_and_noise(spark):
    # two tight 4-point blobs + one remote noise point; eps=1 joins
    # within-blob only; min_pts=2 (excluding self) makes all blob
    # points core; the noise point has no neighbors
    from hive_jq_udtf_spark.operators.dbscan import dbscan_embeddings

    def blob(base_id, cx):
        return [(base_id + i, [cx + 0.1 * i, 0.0]) for i in range(4)]

    rows = blob(0, 0.0) + blob(10, 100.0) + [(99, [50.0, 50.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: (r.cluster, r.is_core)
        for r in dbscan_embeddings(emb, eps=1.0, min_pts=2).collect()
    }
    assert out[99] == (-1, False)  # noise
    assert {out[i] for i in (0, 1, 2, 3)} == {(0, True)}  # blob 1 → min id 0
    assert {out[i] for i in (10, 11, 12, 13)} == {(10, True)}  # blob 2


def test_dbscan_border_assignment_min_rule(spark):
    # chain 0—1—2 (ends not within eps of each other): degree excludes
    # self, so only the middle point reaches min_pts=2 — an ISOLATED
    # core forming a singleton cluster (id 1); both ends are border
    # points of that cluster, never core
    from hive_jq_udtf_spark.operators.dbscan import dbscan_embeddings

    rows = [(0, [0.0]), (1, [0.5]), (2, [1.4])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = {
        r.vec_id: (r.cluster, r.is_core)
        for r in dbscan_embeddings(emb, eps=1.0, min_pts=2).collect()
    }
    assert out[1] == (1, True)
    assert out[0] == (1, False) and out[2] == (1, False)


def test_dbscan_matches_bruteforce_reference(spark):
    # randomized-but-seeded point sets vs a pure-Python DBSCAN with
    # the SAME conventions (degree excludes self; cluster id = min
    # member core id via core-graph reachability; border -> min core
    # neighbor's cluster)
    import itertools
    import random

    from hive_jq_udtf_spark.operators.dbscan import dbscan_embeddings

    rng = random.Random(42)
    for trial in range(3):
        n = 18
        pts = {i: [rng.uniform(0, 4), rng.uniform(0, 4)] for i in range(n)}
        eps, min_pts = 1.0, 2
        nbrs = {i: set() for i in pts}
        for i, j in itertools.combinations(pts, 2):
            d2 = sum((a - b) ** 2 for a, b in zip(pts[i], pts[j]))
            if d2 <= eps * eps:
                nbrs[i].add(j)
                nbrs[j].add(i)
        core = {i for i in pts if len(nbrs[i]) >= min_pts}
        comp = {}
        for s in sorted(core):
            if s in comp:
                continue
            stack, seen = [s], {s}
            while stack:
                u = stack.pop()
                for v in nbrs[u] & core:
                    if v not in seen:
                        seen.add(v)
                        stack.append(v)
            m = min(seen)
            for u in seen:
                comp[u] = m
        expected = {}
        for i in pts:
            if i in core:
                expected[i] = (comp[i], True)
            else:
                cn = sorted(comp[j] for j in nbrs[i] if j in core)
                expected[i] = (cn[0], False) if cn else (-1, False)
        emb = spark.createDataFrame(
            [(i, v) for i, v in pts.items()], "vec_id long, embedding array<double>"
        )
        got = {
            r.vec_id: (r.cluster, r.is_core)
            for r in dbscan_embeddings(emb, eps=eps, min_pts=min_pts).collect()
        }
        assert got == expected, f"trial {trial}"


def test_dbscan_empty_and_all_noise(spark):
    from hive_jq_udtf_spark.operators.dbscan import dbscan_embeddings

    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    assert dbscan_embeddings(empty).collect() == []
    # far-apart points: no edges at all -> everything noise
    far = spark.createDataFrame(
        [(i, [float(i * 100)]) for i in range(4)],
        "vec_id long, embedding array<double>",
    )
    out = dbscan_embeddings(far, eps=1.0, min_pts=2).collect()
    assert all(r.cluster == -1 and not r.is_core for r in out) and len(out) == 4


def test_dbscan_filament_is_one_cluster(spark):
    # 30 cores on a line (diameter ~ n): one-hop label propagation at
    # default max_iter would split this; the LSSS component operator
    # must return a single cluster (regression for the review finding)
    from hive_jq_udtf_spark.operators.dbscan import dbscan_embeddings

    rows = [(i, [float(i)]) for i in range(30)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    out = dbscan_embeddings(emb, eps=1.15, min_pts=2).collect()
    # endpoints have one neighbor each -> border; min CORE id is 1
    assert {r.cluster for r in out} == {1}
    core = {r.vec_id for r in out if r.is_core}
    assert core == set(range(1, 29))


def test_bmp_wav_oracles_byte_exact_on_non_ascii(spark, tmp_path):
    # ADVICE r5: the Spark side truncates UTF-8 BYTES while the old
    # oracles indexed characters — they agreed only on ASCII text.
    # Pin byte-exact agreement on a corpus with multibyte characters
    # (including one truncated mid-character at the byte boundary).
    import duckdb
    import pyarrow as pa
    import pyarrow.parquet as pq

    from hive_jq_udtf_spark.plans.queries import ORACLES, QUERIES

    texts = [
        "héllo wörld " * 12,          # multibyte inside the window
        "日本語テキスト" * 20,          # 3-byte chars, cut mid-char at 90/64
        "plain ascii only " * 10,
        "emoji 🎉 mix " * 12,          # 4-byte char
        "",
    ]
    tbl = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array(["xx"] * len(texts), pa.string()),
            "source": pa.array(["t"] * len(texts), pa.string()),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    pq.write_table(tbl, str(tmp_path / "documents.parquet"))
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM '{tmp_path}/documents.parquet'"
    )
    for name in ("bmp_decode_stats", "wav_decode_stats"):
        got = [tuple(r) for r in QUERIES[name](spark, str(tmp_path)).collect()]
        want = [tuple(r) for r in con.execute(ORACLES[name]).fetchall()]
        assert got == want, name


def test_global_ntile_and_cumsum_match_naive_window(spark):
    # differential: the two-phase primitives must equal the naive
    # single-partition window bit-for-bit on integers (and the ntile
    # bucket split exactly), including heavy ties and tiny inputs
    import random

    from pyspark.sql import Window

    from hive_jq_udtf_spark.operators.layout import global_cumsum, global_ntile

    rng = random.Random(42)
    rows = [(i, rng.randint(0, 19), rng.randint(1, 5), rng.random()) for i in range(500)]
    df = spark.createDataFrame(rows, "id long, k long, c long, x double")

    naive_w = Window.orderBy("k", "id").rowsBetween(Window.unboundedPreceding, 0)
    naive = {
        r["id"]: (r["nt"], r["cs"])
        for r in df.select(
            "id",
            F.ntile(7).over(Window.orderBy("k", "id")).alias("nt"),
            F.sum("c").over(naive_w).alias("cs"),
        ).collect()
    }
    two_nt = global_ntile(df, ["k", "id"], 7, num_partitions=8, out_col="nt")
    two_cs = global_cumsum(df, ["k", "id"], ["c"], num_partitions=8)
    for r in two_nt.select("id", "nt").collect():
        assert naive[r["id"]][0] == r["nt"], r
    for r in two_cs.select("id", "cum_c").collect():
        assert naive[r["id"]][1] == r["cum_c"], r

    # double prefix: regrouped sum must agree to ~ulp relative error
    naive_x = {
        r["id"]: r["xs"]
        for r in df.select("id", F.sum("x").over(naive_w).alias("xs")).collect()
    }
    for r in global_cumsum(df, ["k", "id"], ["x"], num_partitions=8).collect():
        assert abs(r["cum_x"] - naive_x[r["id"]]) <= 1e-9 * max(1.0, abs(naive_x[r["id"]]))

    # empty input: schema preserved, zero rows, no blow-up
    empty = df.where(F.lit(False))
    assert global_cumsum(empty, ["k", "id"], ["c"]).count() == 0
    assert global_ntile(empty, ["k", "id"], 7).count() == 0


def test_global_cumsum_missing_range_offset_is_null(spark):
    """A _range the totals pass never saw (an uncached
    nondeterministic upstream) yields a NULL running sum, not a sum
    silently offset by 0."""
    from hive_jq_udtf_spark.operators.layout import _add_offsets

    parted = spark.createDataFrame(
        [(0, 1, 5), (0, 2, 6), (1, 3, 7), (1, 4, 8)],
        "_range int, id long, c long",
    )
    offsets = spark.createDataFrame([(0, 0)], "_range int, _off_c long")
    got = sorted(
        (r.id, r.cum_c)
        for r in _add_offsets(parted, offsets, ["id"], ["c"], "cum_").collect()
    )
    assert got == [(1, 5), (2, 11), (3, None), (4, None)]


def test_label_propagation_two_cliques_converge(spark):
    # two triangles bridged by nothing: each converges to its smallest
    # node id as the community label
    from hive_jq_udtf_spark.operators.communities import label_propagation

    tri = [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (10, 12)]
    edges = spark.createDataFrame(
        [(a, b) for a, b in tri] + [(b, a) for a, b in tri], "src long, dst long"
    )
    out = {
        r["node"]: r["community"]
        for r in label_propagation(edges, iterations=4).collect()
    }
    assert out == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10}


def test_label_propagation_deterministic_ties_and_isolated(spark):
    from hive_jq_udtf_spark.operators.communities import label_propagation

    # a single undirected edge: both nodes see multiset {own, other};
    # the tie always breaks to the SMALLEST label, both runs identical
    edges = spark.createDataFrame([(5, 9), (9, 5)], "src long, dst long")
    a = sorted(map(tuple, label_propagation(edges, iterations=3).collect()))
    b = sorted(map(tuple, label_propagation(edges, iterations=3).collect()))
    assert a == b == [(5, 5), (9, 5)]


def test_label_propagation_empty_edges(spark):
    from hive_jq_udtf_spark.operators.communities import label_propagation

    edges = spark.createDataFrame([], "src long, dst long")
    assert label_propagation(edges, iterations=2).collect() == []


# ---------------------------------------------------------------------------
# setsim_join_prefix (operators/setsim.py)
# ---------------------------------------------------------------------------


def _brute_jaccard_pairs(rows, tau_num, tau_den):
    """Reference: all (id_a < id_b) with exact Jaccard >= tau."""
    out = {}
    ids = sorted(rows)
    for x in range(len(ids)):
        for y in range(x + 1, len(ids)):
            a, b = ids[x], ids[y]
            sa, sb = set(rows[a]), set(rows[b])
            i = len(sa & sb)
            u = len(sa | sb)
            if u and tau_den * i >= tau_num * u:
                out[(a, b)] = (i, u, (10000 * i) // u)
    return out


def test_setsim_prefix_join_completeness_vs_bruteforce(spark):
    # adversarial corpus for the prefix + positional filters: exact
    # dups, near-subset pairs at the 9/10 boundary (9/10 and 18/20
    # qualify, 8/10 must not), hot tokens everywhere, a singleton
    # token doc, and docs whose ONLY shared tokens sit late in the
    # frequency order
    import random

    from hive_jq_udtf_spark.operators.setsim import setsim_join_prefix

    rng = random.Random(7)
    vocab = [f"t{i}" for i in range(24)]
    rows = {}
    did = 0
    base = vocab[:10]
    for _ in range(6):  # exact-dup cluster of 6
        rows[did] = list(base)
        did += 1
    rows[did] = base[:9]  # subset 9/10 -> J = 0.9, qualifies
    did += 1
    rows[did] = base[:8]  # subset 8/10 -> J = 0.8, must NOT qualify
    did += 1
    big = vocab[:20]
    rows[did] = list(big)
    did += 1
    rows[did] = big[:18]  # 18/20 -> J = 0.9, qualifies
    did += 1
    rows[did] = ["solo"]
    did += 1
    for _ in range(20):  # random background docs
        k = rng.randint(3, 16)
        rows[did] = rng.sample(vocab, k)
        did += 1

    expect = _brute_jaccard_pairs(rows, 9, 10)
    df = spark.createDataFrame(
        [(i, toks) for i, toks in rows.items()],
        "doc_id long, tokens array<string>",
    )
    got = {
        (r["id_a"], r["id_b"]): (r["inter_sz"], r["union_sz"], r["jacc_bp"])
        for r in setsim_join_prefix(df, tau_num=9, tau_den=10).collect()
    }
    assert got == expect  # completeness AND no false positives
    # the boundary rows did their job
    assert any(v[2] == 9000 for v in expect.values())
    assert len(expect) >= 16  # C(6,2) dups + the two boundary pairs


def test_setsim_prefix_join_lower_tau_and_payload(spark):
    from hive_jq_udtf_spark.operators.setsim import setsim_join_prefix

    rows = {
        1: (["a", "b", "c", "d"], "s1"),
        2: (["a", "b", "c", "e"], "s2"),  # J = 3/5 = 0.6 with 1
        3: (["a", "b"], "s1"),  # J = 1/2 with 1 -> only at tau <= 0.5
        4: (["x"], "s2"),
    }
    df = spark.createDataFrame(
        [(i, t, s) for i, (t, s) in rows.items()],
        "doc_id long, tokens array<string>, source string",
    )
    got = {
        (r["id_a"], r["id_b"]): (r["jacc_bp"], r["source_a"], r["source_b"])
        for r in setsim_join_prefix(
            df, tau_num=1, tau_den=2, payload=("source",)
        ).collect()
    }
    brute = _brute_jaccard_pairs({k: v[0] for k, v in rows.items()}, 1, 2)
    assert set(got) == set(brute)
    assert got[(1, 2)] == (6000, "s1", "s2")
    assert got[(1, 3)] == (5000, "s1", "s1")


def test_setsim_prefix_join_duplicate_tokens_and_bad_tau(spark):
    import pytest as _pytest

    from hive_jq_udtf_spark.operators.setsim import setsim_join_prefix

    # duplicate tokens collapse via array_distinct before sizing
    df = spark.createDataFrame(
        [(1, ["a", "a", "b"]), (2, ["b", "a"])],
        "doc_id long, tokens array<string>",
    )
    out = setsim_join_prefix(df, tau_num=9, tau_den=10).collect()
    assert [(r["id_a"], r["id_b"], r["jacc_bp"]) for r in out] == [(1, 2, 10000)]
    with _pytest.raises(ValueError):
        setsim_join_prefix(df, tau_num=0, tau_den=10)
    with _pytest.raises(ValueError):
        setsim_join_prefix(df, tau_num=11, tau_den=10)


# ---------------------------------------------------------------------------
# power_iteration_top_eig (operators/pca.py)
# ---------------------------------------------------------------------------


def test_pca_power_iteration_matches_numpy_eigh(spark):
    import numpy as np

    from hive_jq_udtf_spark.operators.pca import power_iteration_top_eig

    rng = np.random.default_rng(11)
    # anisotropic cloud: dominant axis along (1,1,0)/sqrt(2)
    n, d = 400, 4
    base = rng.normal(size=(n, 1)) * 3.0
    x = np.hstack(
        [
            base + rng.normal(size=(n, 1)) * 0.1,
            base + rng.normal(size=(n, 1)) * 0.1,
            rng.normal(size=(n, 1)) * 0.5,
            rng.normal(size=(n, 1)) * 0.2,
        ]
    )
    df = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    v, lam, dim = power_iteration_top_eig(df, iters=30)
    assert dim == d
    cov = np.cov(x.T, bias=True)
    w, vecs = np.linalg.eigh(cov)
    ref = vecs[:, -1]
    if ref[int(np.argmax(np.abs(ref)))] < 0:
        ref = -ref
    assert np.allclose(v, ref, atol=1e-3)
    assert abs(lam - w[-1]) < 1e-3
    # unit norm + sign pin
    assert abs(sum(c * c for c in v) - 1.0) < 1e-9
    m = max(range(d), key=lambda i: abs(v[i]))
    assert v[m] > 0


def test_pca_topk_deflation_matches_numpy_eigh(spark):
    import numpy as np

    from hive_jq_udtf_spark.operators.pca import power_iteration_topk

    rng = np.random.default_rng(23)
    # three well-separated axes + one noise dim, so deflated power
    # iteration at 40 steps resolves each component cleanly
    n, d = 500, 4
    a = rng.normal(size=(n, 1)) * 4.0
    b = rng.normal(size=(n, 1)) * 2.0
    c = rng.normal(size=(n, 1)) * 1.0
    x = np.hstack(
        [
            a + rng.normal(size=(n, 1)) * 0.05,
            b + rng.normal(size=(n, 1)) * 0.05,
            c + rng.normal(size=(n, 1)) * 0.05,
            rng.normal(size=(n, 1)) * 0.1,
        ]
    )
    df = spark.createDataFrame(
        [(i, [float(v) for v in x[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    comps, dim = power_iteration_topk(df, k=3, iters=40)
    assert dim == d and len(comps) == 3
    cov = np.cov(x.T, bias=True)
    w, vecs = np.linalg.eigh(cov)
    for rank, (v, lam) in enumerate(comps):
        ref = vecs[:, -1 - rank]
        # direction match up to sign; eigenvalue match
        assert abs(abs(float(np.dot(ref, v))) - 1.0) < 1e-3, rank
        assert abs(lam - w[-1 - rank]) < 1e-2, rank
        # unit norm + sign pin per component
        assert abs(sum(c2 * c2 for c2 in v) - 1.0) < 1e-9
        m = max(range(d), key=lambda i: abs(v[i]))
        assert v[m] > 0
    # eigenvalues strictly decreasing (deflation removed each axis)
    assert comps[0][1] > comps[1][1] > comps[2][1]


# ---------------------------------------------------------------------------
# experimentation analytics (plans/queries_r7c.py)
# ---------------------------------------------------------------------------


def test_cuped_reduces_variance_and_preserves_truth(spark, sf_dir):
    # structural gates on the real frame: CUPED must not blow up the
    # estimate, must report the pooled theta, and the adjusted metric
    # variance can never exceed the raw variance (OLS projection)
    from hive_jq_udtf_spark.plans.queries_r7c import q_cuped_adjusted_lift

    r = q_cuped_adjusted_lift(spark, sf_dir).collect()[0]
    assert r["n_a"] > 0 and r["n_b"] > 0
    assert r["var_reduction"] >= 0.0  # theta is the variance-minimizer
    assert abs(r["lift_cuped"]) < 1e6 and r["theta"] == r["theta"]


def test_bootstrap_ci_brackets_estimate(spark, sf_dir):
    from hive_jq_udtf_spark.plans.queries_r7c import q_bootstrap_ci_poisson

    r = q_bootstrap_ci_poisson(spark, sf_dir).collect()[0]
    assert r["n_reps"] == 200
    # rank-based CI must be ordered and bracket the point estimate
    assert r["ci_lo"] <= r["boot_med"] <= r["ci_hi"]
    assert r["ci_lo"] <= r["est"] <= r["ci_hi"]
    assert r["se_boot"] > 0.0
    # Poisson(1) resampling noise at ~1500 users stays in percent range
    assert (r["ci_hi"] - r["ci_lo"]) / r["est"] < 0.5


def test_calibration_ece_is_weighted_gap_mean(spark, sf_dir):
    from hive_jq_udtf_spark.plans.queries_r7c import q_calibration_ece

    rows = q_calibration_ece(spark, sf_dir).collect()
    assert all(0 <= r["bin"] <= 9 for r in rows)
    assert all(0.0 <= r["conf"] <= 1.0 and 0.0 <= r["obs"] <= 1.0 for r in rows)
    n_tot = sum(r["n"] for r in rows)
    ece = sum(r["n"] * abs(r["conf"] - r["obs"]) for r in rows) / n_tot
    # the reported ece re-derives (up to the 4-dp rounds) from the bins
    assert abs(rows[0]["ece"] - ece) < 5e-3
    assert len({r["ece"] for r in rows}) == 1  # same global value each row


def test_k_anonymity_flags_singletons(spark):
    from hive_jq_udtf_spark.plans.queries_r7c import q_k_anonymity_audit

    out = q_k_anonymity_audit(spark, "/root/testdata/sf0.001").collect()
    for r in out:
        assert r["n_small_classes"] <= r["n_classes"]
        assert r["rows_at_risk"] < 5 * max(r["n_small_classes"], 1) or (
            r["n_small_classes"] == 0 and r["rows_at_risk"] == 0
        )
        assert r["min_k"] >= 1


# ---------------------------------------------------------------------------
# multi_source_hops (operators/graph_paths.py)
# ---------------------------------------------------------------------------


def test_bfs_hops_path_graph(spark):
    from hive_jq_udtf_spark.operators.graph_paths import multi_source_hops

    # path 1-2-3-4-5-6, source {1}: exact hop distances, bounded at 3
    path = [(i, i + 1) for i in range(1, 6)]
    edges = spark.createDataFrame(
        path + [(b, a) for a, b in path], "src long, dst long"
    )
    srcs = spark.createDataFrame([(1,)], "node long")
    got = {
        r["node"]: r["hops"]
        for r in multi_source_hops(edges, srcs, max_hops=3).collect()
    }
    assert got == {1: 0, 2: 1, 3: 2, 4: 3}  # 5 and 6 are beyond 3 hops


def test_bfs_hops_multi_source_min_and_isolated_source(spark):
    from hive_jq_udtf_spark.operators.graph_paths import multi_source_hops

    # two sources; node 3 is 1 hop from source 4 (not 2 from source 1);
    # source 99 touches no edge but still reports distance 0
    path = [(1, 2), (2, 3), (3, 4)]
    edges = spark.createDataFrame(
        path + [(b, a) for a, b in path], "src long, dst long"
    )
    srcs = spark.createDataFrame([(1,), (4,), (99,)], "node long")
    got = {
        r["node"]: r["hops"]
        for r in multi_source_hops(edges, srcs, max_hops=2).collect()
    }
    assert got == {1: 0, 2: 1, 3: 1, 4: 0, 99: 0}


def test_bfs_hops_self_loops_ignored_and_empty(spark):
    from hive_jq_udtf_spark.operators.graph_paths import multi_source_hops

    edges = spark.createDataFrame([(7, 7), (7, 8), (8, 7)], "src long, dst long")
    srcs = spark.createDataFrame([(7,)], "node long")
    got = {
        r["node"]: r["hops"]
        for r in multi_source_hops(edges, srcs, max_hops=2).collect()
    }
    assert got == {7: 0, 8: 1}
    empty = spark.createDataFrame([], "src long, dst long")
    assert (
        multi_source_hops(empty, srcs, max_hops=2).collect()[0]["hops"] == 0
    )


def test_setsim_prefix_join_randomized_differential(spark):
    # seeded random corpus over a small vocabulary (the worst case for
    # prefix filtering: every token is hot) at two thresholds — the
    # operator must match brute force pair-for-pair
    import random

    from hive_jq_udtf_spark.operators.setsim import setsim_join_prefix

    rng = random.Random(42)
    vocab = [f"v{i}" for i in range(12)]
    rows = {
        i: rng.sample(vocab, rng.randint(1, 10)) for i in range(40)
    }
    df = spark.createDataFrame(
        [(i, t) for i, t in rows.items()], "doc_id long, tokens array<string>"
    )
    for tn, td in ((1, 2), (4, 5)):
        expect = _brute_jaccard_pairs(rows, tn, td)
        got = {
            (r["id_a"], r["id_b"]): (r["inter_sz"], r["union_sz"], r["jacc_bp"])
            for r in setsim_join_prefix(df, tau_num=tn, tau_den=td).collect()
        }
        assert got == expect, f"tau={tn}/{td}"


def test_bfs_hops_randomized_differential(spark):
    # seeded random digraph vs a pure-Python BFS reference
    import random
    from collections import deque

    from hive_jq_udtf_spark.operators.graph_paths import multi_source_hops

    rng = random.Random(7)
    n = 30
    edges = set()
    for _ in range(80):
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((a, b))
    sources = {0, 13}
    max_hops = 5

    adj = {}
    for a, b in edges:
        adj.setdefault(a, []).append(b)
    dist = {s: 0 for s in sources}
    dq = deque(sources)
    while dq:
        u = dq.popleft()
        if dist[u] >= max_hops:
            continue
        for v in adj.get(u, ()):
            if v not in dist:
                dist[v] = dist[u] + 1
                dq.append(v)
    expect = {k: v for k, v in dist.items() if v <= max_hops}

    edf = spark.createDataFrame(sorted(edges), "src long, dst long")
    sdf = spark.createDataFrame([(s,) for s in sorted(sources)], "node long")
    got = {
        r["node"]: r["hops"]
        for r in multi_source_hops(edf, sdf, max_hops=max_hops).collect()
    }
    assert got == expect


def test_ring_persist_drains_dead_thread_rings(spark):
    # ADVICE r8: rings of dead threads must be drained (GC of the
    # DataFrame object does not unpersist CacheManager entries), so a
    # churned thread's caches are released by the next live caller.
    import threading

    from hive_jq_udtf_spark.operators import layout

    holder = {}

    def worker():
        d = spark.range(100)
        layout._ring_persist(d)
        d.count()
        holder["df"] = d

    t = threading.Thread(target=worker)
    t.start()
    t.join()
    assert holder["df"].is_cached
    probe = layout._ring_persist(spark.range(5))
    probe.count()
    try:
        assert not holder["df"].is_cached
    finally:
        probe.unpersist()


def test_ring_persist_fifo_cap_bounds_live_caches(spark):
    from hive_jq_udtf_spark.operators import layout

    frames = [layout._ring_persist(spark.range(10 + i)) for i in range(layout._CACHE_RING_MAX + 3)]
    for f in frames:
        f.count()
    cached = [f.is_cached for f in frames]
    assert cached[-layout._CACHE_RING_MAX:] == [True] * layout._CACHE_RING_MAX
    assert not any(cached[: -layout._CACHE_RING_MAX])
    for f in frames:
        f.unpersist()


def test_whiten_projection_variance_and_plan(spark):
    """Whitened projection: per-component variance of y is ~1 on an
    anisotropic corpus (that is the point of the 1/sqrt(eigval)
    scale), the plan is Python-free, the k x d parameters arrive by
    broadcast, and the corpus itself is never shuffled."""
    import math
    import random

    from hive_jq_udtf_spark.operators.pca import (
        dimension_means_rounded,
        power_iteration_topk,
        whiten_projection,
    )

    rng = random.Random(41)
    d = 8
    rows = []
    for vid in range(400):
        # anisotropic: dim 0 scale 5, dim 1 scale 2, rest scale 0.5
        v = [
            rng.gauss(0, 5.0 if i == 0 else (2.0 if i == 1 else 0.5))
            for i in range(d)
        ]
        rows.append((vid, v))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    comps, dim = power_iteration_topk(emb, k=2, vec_col="embedding", iters=12)
    mu = dimension_means_rounded(emb)
    out = whiten_projection(emb, comps, mu)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "EvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Broadcast" in plan
    assert "shuffle" not in plan.lower().replace("broadcastexchange", "")
    ys = {}
    for r in out.collect():
        ys.setdefault(r.comp, []).append(r.y)
    assert sorted(ys) == [1, 2]
    for comp, vals in ys.items():
        assert len(vals) == 400
        m = sum(vals) / len(vals)
        var = sum((x - m) ** 2 for x in vals) / len(vals)
        assert abs(var - 1.0) < 0.15, (comp, var)
    # the two whitened axes are near-orthogonal in sample correlation
    y1, y2 = ys[1], ys[2]
    m1 = sum(y1) / len(y1)
    m2 = sum(y2) / len(y2)
    cov = sum((a - m1) * (b - m2) for a, b in zip(y1, y2)) / len(y1)
    s1 = math.sqrt(sum((a - m1) ** 2 for a in y1) / len(y1))
    s2 = math.sqrt(sum((b - m2) ** 2 for b in y2) / len(y2))
    assert abs(cov / (s1 * s2)) < 0.25


def test_whiten_projection_matches_numpy_reference(spark):
    """Wiring differential: whiten_projection's codegen expression
    (flattened w array, 1-based element_at indexing) must equal a
    numpy replay of y = (x - mu) @ (v_c / sqrt(lam_c)) built from the
    operator's own inputs, up to the 6-dp output round."""
    import math
    import random

    import numpy as np

    from hive_jq_udtf_spark.operators.pca import (
        dimension_means_rounded,
        power_iteration_topk,
        whiten_projection,
    )

    rng = random.Random(53)
    d, n, k = 6, 120, 3
    rows = [
        (i, [rng.gauss(0, 1 + 0.5 * j) for j in range(d)]) for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    comps, dim = power_iteration_topk(emb, k=k, vec_col="embedding", iters=12)
    mu = dimension_means_rounded(emb)
    got = {
        (r.vec_id, r.comp): r.y
        for r in whiten_projection(emb, comps, mu).collect()
    }
    X = np.array([v for _, v in rows], dtype=np.float64)
    mu_a = np.array(mu)
    for c, (v, lam) in enumerate(comps, start=1):
        w = np.array([round(x, 6) for x in v]) / math.sqrt(round(lam, 4))
        ref = (X - mu_a) @ w
        for i in range(n):
            assert abs(got[(i, c)] - round(ref[i], 6)) <= 1e-6, (i, c)


def test_whiten_projection_arrow_kernel_agrees_and_dispatches(spark):
    """r10 (VERDICT r9 #7): the Arrow BLAS Gram-block kernel is the
    scale path for d >= 256 — auto-dispatch engages there, the plan
    is an ArrowEvalPython stage, and its values agree with the
    codegen HOF path to the 6-dp round (one rounding quantum of slack
    for BLAS-vs-sequential summation order)."""
    import random

    from hive_jq_udtf_spark.operators.pca import (
        _WHITEN_ARROW_MIN_D,
        whiten_projection,
    )

    rng = random.Random(59)
    d, n, k = 64, 150, 3
    rows = [
        (i, [rng.gauss(0, 1 + 0.01 * j) for j in range(d)]) for i in range(n)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    comps = [
        ([rng.uniform(-0.2, 0.2) for _ in range(d)], 1.0 + c) for c in range(k)
    ]
    mu = [round(rng.uniform(-0.05, 0.05), 6) for _ in range(d)]
    hof = {
        (r.vec_id, r.comp): r.y
        for r in whiten_projection(emb, comps, mu, use_arrow=False).collect()
    }
    arrow_df = whiten_projection(emb, comps, mu, use_arrow=True)
    plan = arrow_df._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan or "MapInPandas" in plan
    arrow = {(r.vec_id, r.comp): r.y for r in arrow_df.collect()}
    assert set(hof) == set(arrow) and len(hof) == n * k
    exact = 0
    for key, y in hof.items():
        assert abs(arrow[key] - y) <= 1e-6, key
        exact += arrow[key] == y
    assert exact >= 0.99 * len(hof)  # ulp-boundary cases are rare

    # auto-dispatch: small d stays codegen, d >= the gate goes Arrow
    assert _WHITEN_ARROW_MIN_D == 256
    small = whiten_projection(emb, comps, mu)
    assert "MapInPandas" not in small._jdf.queryExecution().executedPlan().toString()
    d2 = 256
    rows2 = [(0, [0.0] * d2), (1, [1.0] * d2)]
    emb2 = spark.createDataFrame(rows2, "vec_id long, embedding array<double>")
    comps2 = [([0.001] * d2, 2.0)]
    big = whiten_projection(emb2, comps2, [0.0] * d2)
    plan2 = big._jdf.queryExecution().executedPlan().toString()
    assert "ArrowEvalPython" in plan2 or "MapInPandas" in plan2
    vals = {r.vec_id: r.y for r in big.collect()}
    # hand-check: y(1) = 256 * 1.0 * 0.001 / sqrt(2)
    import math as _math

    assert vals[0] == 0.0
    assert abs(vals[1] - round(256 * 0.001 / _math.sqrt(2.0), 6)) <= 1e-6


def _spec_idct_block(coef_natural):
    """Test-local T.81 A.3.3 inverse DCT: direct double cosine sum,
    independent of the codec's matrix/einsum path."""
    import math

    out = [[0.0] * 8 for _ in range(8)]
    for x in range(8):
        for y in range(8):
            s = 0.0
            for u in range(8):
                for v in range(8):
                    cu = 1 / math.sqrt(2) if u == 0 else 1.0
                    cv = 1 / math.sqrt(2) if v == 0 else 1.0
                    s += (
                        cu * cv * coef_natural[u][v]
                        * math.cos((2 * x + 1) * u * math.pi / 16)
                        * math.cos((2 * y + 1) * v * math.pi / 16)
                    )
            out[x][y] = s / 4.0
    return out


def _jpeg_headers_gray(q, dc_bits, dc_vals, ac_bits, ac_vals, w=8, h=8, dri=None):
    """Hand-assembled grayscale baseline JPEG headers (fixed-vector
    helper: every byte below is written out explicitly)."""
    import struct

    zz = [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
    out = b"\xff\xd8"
    if max(q) > 255:  # Pq=1 (16-bit) path
        out += b"\xff\xdb" + struct.pack(">H", 2 + 1 + 128) + b"\x10"
        out += struct.pack(">64H", *[q[i] for i in zz])
    else:
        out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00"
        out += bytes(q[i] for i in zz)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 11, 8, h, w, 1) + b"\x01\x11\x00"
    out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(dc_vals)) + b"\x00"
    out += bytes(dc_bits) + bytes(dc_vals)
    out += b"\xff\xc4" + struct.pack(">H", 2 + 1 + 16 + len(ac_vals)) + b"\x10"
    out += bytes(ac_bits) + bytes(ac_vals)
    if dri is not None:
        out += b"\xff\xdd" + struct.pack(">HH", 4, dri)
    out += b"\xff\xda" + struct.pack(">H", 8) + b"\x01\x01\x00\x00\x3f\x00"
    return out


def test_jpeg_fixed_vector_dc_only():
    """Hand-assembled vector V1: 8x8 grayscale, q=8 everywhere, one
    DC coefficient (+5), AC all zero.  Entropy bits hand-packed in
    the comment below; expected output derived on paper from the
    spec: dequant 5*8=40, flat IDCT 40/8=5, +128 = constant 133."""
    import numpy as np

    from hive_jq_udtf_spark.operators.codecs import decode_jpeg

    # DC table: one symbol (size category 3) at code length 2 -> '00'
    # AC table: one symbol (EOB 0x00) at code length 2 -> '00'
    dc_bits = [0, 1] + [0] * 14
    ac_bits = [0, 1] + [0] * 14
    hdr = _jpeg_headers_gray([8] * 64, dc_bits, [3], ac_bits, [0x00])
    # bits: DC code '00', magnitude +5 = '101' (3 bits), EOB '00',
    # 1-bit pad '1'  ->  0010 1001 = 0x29
    data = hdr + bytes([0x29]) + b"\xff\xd9"
    out = decode_jpeg(data)
    assert out.shape == (8, 8, 1)
    assert np.array_equal(out[:, :, 0], np.full((8, 8), 133, dtype=np.uint8))


def test_jpeg_fixed_vector_single_ac():
    """Vector V2: 8x8 grayscale, q=1, DC=0, one AC coefficient
    (zigzag k=1 -> natural (0,1)) of value +2; expected pixels from
    the test-local direct-cosine-sum IDCT (not the codec's path)."""
    import numpy as np

    from hive_jq_udtf_spark.operators.codecs import decode_jpeg

    # DC table: symbol 0 (size 0) at length 2 -> '00'
    # AC table: two symbols at length 2: 0x06 (run0,size6) -> '00',
    #           0x00 (EOB) -> '01'
    dc_bits = [0, 1] + [0] * 14
    ac_bits = [0, 2] + [0] * 14
    hdr = _jpeg_headers_gray([1] * 64, dc_bits, [0], ac_bits, [0x06, 0x00])
    # bits: DC '00' (size0, no magnitude), AC '00' + magnitude
    # '101000' (+40), EOB '01', pad '1111'
    # -> 00 00 101000 01 1111 = 00001010 00011111 = 0x0A 0x1F
    data = hdr + bytes([0x0A, 0x1F]) + b"\xff\xd9"
    out = decode_jpeg(data)[:, :, 0].astype(int)
    coef = [[0.0] * 8 for _ in range(8)]
    coef[0][1] = 40.0  # natural order (u=0, v=1)
    exp = _spec_idct_block(coef)
    expected = np.clip(np.rint(np.asarray(exp) + 128.0), 0, 255).astype(int)
    assert np.array_equal(out, expected)
    assert out.min() != out.max()  # the cosine ripple is really there


def test_jpeg_fixed_vector_restart_and_16bit_dqt():
    """Vector V3: 16x8 grayscale (two MCUs), 16-bit DQT (Pq=1, q=8),
    DRI=1 with an RST0 between the blocks — DC prediction must reset,
    so block 2's diff +3 is absolute, not 5+3."""
    import numpy as np

    from hive_jq_udtf_spark.operators.codecs import decode_jpeg

    # DC: size3 -> '00', size2 -> '01'; AC: EOB '00'
    dc_bits = [0, 2] + [0] * 14
    ac_bits = [0, 1] + [0] * 14
    hdr = _jpeg_headers_gray([300] * 64, dc_bits, [3, 2], ac_bits, [0x00], w=16, h=8, dri=1)
    # MCU1: DC '00'+'101' (+5), EOB '00' -> 0010100 1(pad) = 0x29
    # RST0, then MCU2 (pred reset): DC '01'+'11' (+3), EOB '00'
    #   -> 011100 11(pad) = 0x73
    data = hdr + bytes([0x29]) + b"\xff\xd0" + bytes([0x73]) + b"\xff\xd9"
    out = decode_jpeg(data)[:, :, 0]
    # dequant q=300: block1 5*300/8=187.5 +128 = 315.5 -> clip 255
    # block2 3*300/8=112.5 +128 = 240.5 -> round-half-even 240
    assert np.array_equal(out[:, :8], np.full((8, 8), 255, dtype=np.uint8))
    assert np.array_equal(out[:, 8:], np.full((8, 8), 240, dtype=np.uint8))


def test_jpeg_fixed_vector_color_420_flat():
    """Vector V4: 16x16 YCbCr 4:2:0, every plane a DC-only flat
    block (Y=+5 q8 -> 133, Cb=+2 q8 -> 130, Cr=-4 q8 -> 124);
    expected RGB from the JFIF formulas computed here, not in the
    codec."""
    import struct

    import numpy as np

    from hive_jq_udtf_spark.operators.codecs import decode_jpeg

    zz = [
        0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
        12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
        35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
        58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
    ]
    out = b"\xff\xd8"
    out += b"\xff\xdb" + struct.pack(">H", 67) + b"\x00" + bytes([8] * 64)
    # SOF0: 3 components, Y 2x2, Cb/Cr 1x1, all quant table 0
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, 16, 16, 3)
    out += b"\x01\x22\x00" + b"\x02\x11\x00" + b"\x03\x11\x00"
    # DC: size3 '00', size2 '01'; AC: EOB '00'  (shared by all comps)
    out += b"\xff\xc4" + struct.pack(">H", 2 + 17 + 2) + b"\x00"
    out += bytes([0, 2] + [0] * 14) + bytes([3, 2])
    out += b"\xff\xc4" + struct.pack(">H", 2 + 17 + 1) + b"\x10"
    out += bytes([0, 1] + [0] * 14) + bytes([0x00])
    out += b"\xff\xda" + struct.pack(">H", 12) + b"\x03" + b"\x01\x00\x02\x00\x03\x00" + b"\x00\x3f\x00"
    # one MCU: 4 Y blocks then Cb then Cr
    # Y1: '00'+'101' (+5) EOB '00'  = 0010100.  (7 bits)
    # Y2..Y4: diff 0 -> need size0?  size0 not in DC table — use
    # diff +0 impossible; instead repeat +5? prediction: Y2 diff 0.
    # Avoid needing size-0: give Y blocks alternating +5 / -5 diffs.
    # Y2: diff -5 -> size3, bits = -5 + 7 = 2 = '010'.
    # Y3: +5 again, Y4: -5.
    # Cb: '01'+'10' (+2) EOB '00' (6 bits); Cr: '01'+'01'? -4:
    #   size3: -4+7=3 -> '00'+'011' EOB '00'.
    # bitstream: Y1 00 101 00 | Y2 00 010 00 | Y3 00 101 00 |
    #            Y4 00 010 00 | Cb 01 10 00 | Cr 00 011 00 | pad
    bits = "0010100" + "0001000" + "0010100" + "0001000" + "011000" + "0001100"
    bits += "1" * ((-len(bits)) % 8)
    ecs = bytes(int(bits[i : i + 8], 2) for i in range(0, len(bits), 8))
    ecs = ecs.replace(b"\xff", b"\xff\x00")
    data = out + ecs + b"\xff\xd9"
    rgb = decode_jpeg(data).astype(int)
    assert rgb.shape == (16, 16, 3)
    # DC prediction: Y1=+5 -> 5, Y2=-5 -> 0, Y3=+5 -> 5, Y4=-5 -> 0;
    # block layout rows (Y1 Y2)/(Y3 Y4) -> COLUMNS alternate
    # 133/128 (5*8/8+128 and 0+128)
    y = np.where(np.indices((2, 2))[1] % 2 == 0, 133, 128)
    yfull = np.repeat(np.repeat(y, 8, 0), 8, 1)
    cb, cr = 130.0, 124.0
    r = np.clip(np.rint(yfull + 1.402 * (cr - 128)), 0, 255)
    g = np.clip(np.rint(yfull - 0.344136 * (cb - 128) - 0.714136 * (cr - 128)), 0, 255)
    b = np.clip(np.rint(yfull + 1.772 * (cb - 128)), 0, 255)
    assert np.array_equal(rgb[:, :, 0], r.astype(int))
    assert np.array_equal(rgb[:, :, 1], g.astype(int))
    assert np.array_equal(rgb[:, :, 2], b.astype(int))


def test_jpeg_encoder_roundtrips_and_rejects():
    """Own-encoder roundtrips (tolerance; flat blocks exact) plus the
    reject surface: progressive SOF2, truncation, non-JPEG bytes."""
    import numpy as np
    import pytest

    from hive_jq_udtf_spark.operators.codecs import decode_jpeg, encode_jpeg

    rng = np.random.default_rng(11)
    # flat 8x8 blocks roundtrip EXACTLY with the all-ones tables
    vals = rng.integers(0, 256, (3, 7), dtype=np.uint8)
    img = np.repeat(np.repeat(vals, 8, 0), 8, 1)
    assert np.array_equal(decode_jpeg(encode_jpeg(img))[:, :, 0], img)
    # arbitrary grayscale: off-by-one from DCT rounding only
    img2 = rng.integers(0, 256, (21, 34), dtype=np.uint8)
    out2 = decode_jpeg(encode_jpeg(img2))[:, :, 0].astype(int)
    assert np.abs(out2 - img2.astype(int)).max() <= 1
    # color 4:4:4 within color-transform rounding
    img3 = rng.integers(0, 256, (16, 24, 3), dtype=np.uint8)
    out3 = decode_jpeg(encode_jpeg(img3)).astype(int)
    assert np.abs(out3 - img3.astype(int)).max() <= 3
    # 4:2:0 with constant chroma stays near-exact; restart markers on
    img4 = np.stack([img2[:16, :16]] * 3, axis=2)
    out4 = decode_jpeg(encode_jpeg(img4, subsampling="420", restart_interval=1)).astype(int)
    assert np.abs(out4 - img4.astype(int)).max() <= 1
    # odd geometry + heavier quant still decodes to the right shape
    q = np.full(64, 16)
    out5 = decode_jpeg(encode_jpeg(img2, quant_luma=q))
    assert out5.shape == (21, 34, 1)

    good = encode_jpeg(img2)
    with pytest.raises(ValueError):
        decode_jpeg(b"JUNKJUNKJUNK")
    with pytest.raises(ValueError):
        decode_jpeg(good[: len(good) // 2])  # truncated mid-scan
    with pytest.raises(ValueError):
        # flip SOF0 -> SOF2 (progressive)
        decode_jpeg(good.replace(b"\xff\xc0", b"\xff\xc2", 1))


def test_multimodal_jpeg_feature_and_resize_dispatch(spark):
    """r11: JPEG payloads flow through the real-codec feature and
    resize stages (magic-byte dispatch), grayscale and color."""
    import numpy as np

    from hive_jq_udtf_spark.operators import codecs, multimodal

    rng = np.random.default_rng(5)
    gray = np.repeat(np.repeat(rng.integers(0, 256, (2, 2), dtype=np.uint8), 8, 0), 8, 1)
    color = rng.integers(0, 256, (16, 16, 3), dtype=np.uint8)
    rows = [
        (1, "image", bytearray(codecs.encode_jpeg(gray)),
         {"mime": "image/jpeg", "width": 16, "height": 16, "duration_ms": None, "n_bytes": 0}),
        (2, "image", bytearray(codecs.encode_jpeg(color)),
         {"mime": "image/jpeg", "width": 16, "height": 16, "duration_ms": None, "n_bytes": 0}),
    ]
    media = spark.createDataFrame(rows, multimodal.MEDIA_SCHEMA)
    feats = {r.media_id: r for r in
             multimodal.extract_features(media, dim=4, use_real_codecs=True).collect()}
    assert feats[1].decode_ok and feats[2].decode_ok
    # grayscale mean is exact: integer sum / npix / 255
    exp = float(int(gray.astype(np.int64).sum())) / 256 / 255.0
    assert abs(feats[1].feature[0] - exp) < 1e-6
    resized = {r.media_id: r for r in
               multimodal.resize_images(media, 8, 8, use_real_codecs=True).collect()}
    out1 = codecs.decode_jpeg(bytes(resized[1].content))
    out2 = codecs.decode_jpeg(bytes(resized[2].content))
    assert out1.shape == (8, 8, 1) and out2.shape == (8, 8, 3)


def test_ann_recall_vs_brute_force_baseline(spark):
    """r12 (VERDICT r11 #6): the deliberate exact quadratic audit
    baselines (brute-force cosine; the same kernel behind
    knn_label_eval / dbscan_clusters) are formally the measuring stick
    for the bucketed scale-path twins.  Pins recall@5 of the two ANN
    driver queries against the exact top-5 on the driver's sf0.01
    embeddings — everything is seeded/deterministic, so these are
    exact values at this SF (measured: SRP 0.288 with 4 hyperplanes /
    16 buckets / 1 probe; IVF 0.624 with 8 cells / 2 probes):
    recall can only move if an operator's semantics change."""
    import os

    sf = "/root/testdata/sf0.01"
    if not os.path.isdir(sf):
        import pytest

        pytest.skip("driver testdata not present")
    from hive_jq_udtf_spark.operators.similarity import brute_force_topk
    from hive_jq_udtf_spark.plans.queries import q_ann_ivf_topk, q_ann_srp_topk
    from hive_jq_udtf_spark.sources.tables import load_table

    emb = load_table(spark, sf, "embeddings")
    q = emb.where(F.col("vec_id") < 50)
    exact = {
        (r.query_id, r.neighbor_id) for r in brute_force_topk(q, emb, k=5).collect()
    }
    assert len(exact) == 250
    for name, fn, bound in [
        ("srp", q_ann_srp_topk, 0.28),
        ("ivf", q_ann_ivf_topk, 0.60),
    ]:
        ann = {(r.query_id, r.neighbor_id) for r in fn(spark, sf).collect()}
        recall = len(ann & exact) / len(exact)
        assert recall >= bound, (name, recall)


def test_knn_recall_ivf_matches_oracle_with_ansi_off(spark, sf_dir):
    """knn_recall_ivf counts a query with no IVF candidates as 0 hits
    under any ANSI setting: legacy size(NULL) is -1, so the hit count
    must not depend on it."""
    import duckdb

    from hive_jq_udtf_spark.plans.queries import ORACLES, QUERIES

    key = "spark.sql.ansi.enabled"
    prev = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        got = [tuple(r) for r in QUERIES["knn_recall_ivf"](spark, sf_dir).collect()]
    finally:
        spark.conf.set(key, prev)
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{sf_dir}/embeddings.parquet'"
    )
    want = [tuple(r) for r in con.execute(ORACLES["knn_recall_ivf"]).fetchall()]
    assert got == want
