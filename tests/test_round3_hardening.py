"""Round-3 hardening: SemDeDup hot-cell cap, metadata row counts, persist
lifecycle, gemm guards, and the dependency-free media codecs."""

import numpy as np
import pyspark.sql.functions as F
import pytest

from zarr_datafusion_search_spark.functions import media_codecs as mc
from zarr_datafusion_search_spark.operators import multimodal, similarity
from zarr_datafusion_search_spark.operators.cache import (
    operator_cache_scope,
    release_operator_caches,
    tracked_persist,
)
from zarr_datafusion_search_spark.operators.dedup import minhash_lsh_pairs
from zarr_datafusion_search_spark.sources.metadata import metadata_row_count


# ---------------------------------------------------------------------------
# media codecs (pure python)
# ---------------------------------------------------------------------------


def test_bmp_ppm_roundtrip():
    rng = np.random.default_rng(7)
    for w, h in [(1, 1), (3, 2), (8, 6), (5, 1)]:
        arr = rng.integers(0, 256, (h, w, 3)).astype(np.uint8)
        assert (mc.decode_bmp(mc.encode_bmp(arr)) == arr).all()
        assert (mc.decode_ppm(mc.encode_ppm(arr)) == arr).all()


def test_wav_roundtrip_and_stream():
    rng = np.random.default_rng(8)
    s = (rng.integers(0, 65536, 37) - 32768).astype("<i2")
    dec, rate = mc.decode_wav(mc.encode_wav(s, 8000))
    assert rate == 8000 and (dec == s).all()
    frames = [rng.integers(0, 256, (3, 4, 3)).astype(np.uint8) for _ in range(5)]
    out = mc.decode_ppm_stream(mc.encode_ppm_stream(frames))
    assert len(out) == 5
    assert all((a == b).all() for a, b in zip(frames, out))


def test_codec_failures_are_loud():
    with pytest.raises(ValueError):
        mc.decode_bmp(b"NOPE")
    with pytest.raises(ValueError):
        mc.decode_ppm(b"P5\n1 1\n255\nx")
    with pytest.raises(ValueError, match="truncated"):
        arr = np.zeros((2, 2, 3), np.uint8)
        mc.decode_ppm_stream(mc.encode_ppm_stream([arr])[:-1])
    # PNG decode is real since round 4, JPEG since round 5: truncated
    # signature-only payloads must fail their chunk/marker walks loudly
    with pytest.raises(ValueError, match="PNG"):
        mc.decode_image(b"\x89PNG", "image/png")
    with pytest.raises(ValueError, match="JPEG"):
        mc.decode_image(b"\xff\xd8", "image/jpeg")
    # formats that genuinely need ffmpeg stay gated, naming the set
    with pytest.raises(NotImplementedError, match="image/bmp"):
        mc.decode_image(b"\x00", "image/tiff")


def test_real_decode_gates_name_supported_formats(spark):
    df = spark.range(3).select(
        F.col("id").alias("doc_id"),
        F.lit(b"\x00\x01").alias("media_bytes"),
        F.struct(F.lit("video/mp4").alias("format")).alias("media_meta"),
    )
    with pytest.raises(Exception, match="video/ppm-stream"):
        multimodal.extract_media_features(df, fake=False).collect()


def test_resize_real_is_actual_pixels(spark):
    docs = spark.range(5, 9).select(F.col("id").alias("doc_id"))
    media = multimodal.attach_synthetic_images(docs, fmt="image/bmp")
    small = multimodal.resize_media(media, width=2, height=2, fake=False)
    rows = {r.doc_id: r for r in small.collect()}
    for i, r in rows.items():
        w, h = i % 8 + 1, i % 6 + 1
        src = (
            i * 31
            + 7 * np.arange(h)[:, None, None]
            + 3 * np.arange(w)[None, :, None]
            + np.arange(3)[None, None, :]
        ) % 256
        expected = mc.nearest_resize(src.astype(np.uint8), 2, 2)
        got = mc.decode_bmp(bytes(r.media_bytes))
        assert (got == expected).all()
        assert r.media_meta.width == 2 and r.media_meta.height == 2


# ---------------------------------------------------------------------------
# SemDeDup hot-cell cap
# ---------------------------------------------------------------------------


def _one_cell_corpus(spark, n=50, dim=4):
    """n near-identical vectors -> everything lands in one cell and every
    pair clears the threshold: the synthetic hot cell."""
    rows = [(i, [1.0, 0.5, 0.25, 0.125 + i * 1e-9]) for i in range(n)]
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def test_semdedup_hot_cell_is_capped(spark):
    corpus = _one_cell_corpus(spark, n=50)
    capped = similarity.semantic_dedup_pairs(
        corpus, threshold=0.9, n_centroids=1, max_cell_rows=10
    ).collect()
    # the cap bounds per-task work: only the 10 deterministically-sampled
    # members may appear in pairs -> at most C(10,2) pairs over <= 10 ids
    ids = {r.id_a for r in capped} | {r.id_b for r in capped}
    assert len(capped) == 45  # C(10,2): all survivors are near-identical
    assert len(ids) == 10
    # the kept set is exactly the 10 smallest splitmix64(id) values
    h = similarity._splitmix64(np.arange(50).astype(np.uint64))
    expected = set(np.argsort(h, kind="stable")[:10].tolist())
    assert ids == expected


def test_semdedup_cap_noop_below_bound_and_blocking_is_lossless(spark):
    corpus = _one_cell_corpus(spark, n=20)
    base = sorted(
        (r.id_a, r.id_b)
        for r in similarity.semantic_dedup_pairs(
            corpus, threshold=0.9, n_centroids=1
        ).collect()
    )
    assert len(base) == 20 * 19 // 2
    blocked = sorted(
        (r.id_a, r.id_b)
        for r in similarity.semantic_dedup_pairs(
            corpus, threshold=0.9, n_centroids=1, gemm_block_rows=3
        ).collect()
    )
    assert blocked == base


def test_semdedup_auto_centroids_runs(spark, sf_dir):
    emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    out = similarity.semantic_dedup_pairs(emb, threshold=0.4, n_centroids="auto")
    assert out.count() >= 0


# ---------------------------------------------------------------------------
# metadata row counts (plan-build sizing without Spark jobs)
# ---------------------------------------------------------------------------


def test_metadata_row_count_bare_and_projected_scan(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = docs.count()
    assert metadata_row_count(docs) == n
    assert metadata_row_count(docs.select("doc_id")) == n


def test_metadata_row_count_refuses_cardinality_changers(spark, sf_dir):
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    assert metadata_row_count(docs.filter(F.col("doc_id") > 3)) is None
    assert metadata_row_count(docs.limit(5)) is None
    assert metadata_row_count(docs.groupBy("source").count()) is None
    local = spark.createDataFrame([(1,)], "a long")
    assert metadata_row_count(local) is None


# ---------------------------------------------------------------------------
# persist lifecycle
# ---------------------------------------------------------------------------


def test_dedup_caches_released(spark, sf_dir):
    sc = spark.sparkContext
    # drop caches left by earlier tests: with them alive, CacheManager
    # plan canonicalization would satisfy this pipeline from the existing
    # entries and no NEW storage would appear
    release_operator_caches()
    before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    minhash_lsh_pairs(docs).count()
    during = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    assert during - before, "pipeline should have cached its indexes"
    released = release_operator_caches()
    assert released >= 2  # hashed shingles + band signatures
    after = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
    assert after - before == set(), "no cached blocks may outlive release"


def test_cache_scope_releases_only_its_own_handles(spark):
    outer = tracked_persist(spark.range(10).selectExpr("id * 2 AS v"))
    with operator_cache_scope():
        inner = tracked_persist(spark.range(10).selectExpr("id * 3 AS v"))
        with operator_cache_scope():
            innermost = tracked_persist(spark.range(10).selectExpr("id * 5 AS v"))
        assert not innermost.is_cached
        assert inner.is_cached and outer.is_cached
    assert not inner.is_cached
    assert outer.is_cached, "a scope must not release a handle tracked outside it"
    assert release_operator_caches() == 1  # scoped handles are already gone
    assert not outer.is_cached


# ---------------------------------------------------------------------------
# gemm guards
# ---------------------------------------------------------------------------


def test_gemm_rejects_non_integral_ids_and_auto_falls_back(spark):
    rows = [(f"id{i}", [float(i), 1.0]) for i in range(6)]
    corpus = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
    with pytest.raises(ValueError, match="integral id"):
        similarity.brute_force_topk(corpus, corpus, k=2, strategy="gemm")
    out = similarity.brute_force_topk(corpus, corpus.limit(2), k=2, strategy="auto")
    assert out.count() == 4  # fold fallback handles string ids


def test_gemm_zero_norm_query_still_emits_rows(spark):
    rows = [(i, [float(i + 1), 1.0]) for i in range(70)]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    zq = spark.createDataFrame(
        [(1000, [0.0, 0.0])], "vec_id long, embedding array<double>"
    )
    for strategy in ("fold", "gemm"):
        out = similarity.brute_force_topk(
            corpus, zq, k=3, strategy=strategy
        ).collect()
        assert len(out) == 3, f"{strategy} dropped zero-norm query rows"


# ---------------------------------------------------------------------------
# pagerank (cross-engine oracle runs in test_queries_oracle; these pin the
# mathematical invariants)
# ---------------------------------------------------------------------------


def test_pagerank_invariants(spark):
    from zarr_datafusion_search_spark.operators.graph import pagerank

    # star graph: a,b,c -> hub; hub dangles (no out-edges)
    edges = spark.createDataFrame(
        [("a", "hub"), ("b", "hub"), ("c", "hub")], "src string, dst string"
    )
    ranks = {r.node: r["rank"] for r in pagerank(edges, n_iter=5).collect()}
    assert set(ranks) == {"a", "b", "c", "hub"}
    # total rank mass is conserved (dangling redistribution); each reported
    # rank is rounded to 6 dp, so the sum may carry n/2 ULPs of that grid
    assert abs(sum(ranks.values()) - 1.0) < 5e-6 * len(ranks)
    # the hub absorbs every spoke's mass -> strictly highest rank
    assert ranks["hub"] > max(ranks["a"], ranks["b"], ranks["c"])
    # spokes are symmetric
    assert ranks["a"] == ranks["b"] == ranks["c"]


def test_pagerank_weighted_prefers_heavy_edge(spark):
    from zarr_datafusion_search_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("u", "x", 9.0), ("u", "y", 1.0), ("x", "u", 1.0), ("y", "u", 1.0)],
        "src string, dst string, weight double",
    )
    ranks = {
        r.node: r["rank"]
        for r in pagerank(edges, n_iter=5, weight="weight").collect()
    }
    assert ranks["x"] > ranks["y"]
    assert abs(sum(ranks.values()) - 1.0) < 1e-6


def test_pagerank_empty_graph_returns_empty(spark):
    from zarr_datafusion_search_spark.operators.graph import pagerank

    edges = spark.createDataFrame([], "src string, dst string")
    out = pagerank(edges, n_iter=3)
    assert out.count() == 0
    assert [f.name for f in out.schema.fields] == ["node", "rank"]


def test_cross_corpus_minhash_sides_are_disjoint(spark, sf_dir):
    """Cross-corpus matching never pairs two incoming docs or two reference
    docs — only (new, ref) pairs come out, and a doc duplicated across the
    split IS reported (that's the signal)."""
    from zarr_datafusion_search_spark.operators.dedup import (
        minhash_lsh_pairs_between,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    incoming = docs.filter(F.col("source") == "src0")
    reference = docs.filter(F.col("source") != "src0")
    out = minhash_lsh_pairs_between(incoming, reference).collect()
    new_ids = {r.doc_id for r in incoming.select("doc_id").collect()}
    ref_ids = {r.doc_id for r in reference.select("doc_id").collect()}
    for r in out:
        assert r.doc_new in new_ids and r.doc_ref in ref_ids
        assert r.jaccard >= 0.5
    release_operator_caches()


def test_pagerank_driver_fast_path_matches_distributed(spark):
    """The small-graph driver iteration (round 7) must reproduce the
    distributed plan's (node, rank) output exactly — same per-round
    HALF_UP grid, same term association."""
    import random

    from zarr_datafusion_search_spark.operators.graph import pagerank

    rng = random.Random(7)
    labels = [f"t{i}" for i in range(12)]
    rows = []
    for _ in range(60):
        a, b = rng.sample(labels, 2)
        rows.append((a, b, float(rng.randint(1, 9))))
    edges = spark.createDataFrame(rows, "src string, dst string, weight double")
    fast = {
        r.node: r["rank"]
        for r in pagerank(edges, n_iter=5, weight="weight").collect()
    }
    dist = {
        r.node: r["rank"]
        for r in pagerank(
            edges, n_iter=5, weight="weight", driver_max_nodes=0
        ).collect()
    }
    assert fast == dist
