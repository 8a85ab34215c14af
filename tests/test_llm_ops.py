"""LLM-pipeline operator tests: recall of approximate paths measured
against exact baselines (never assumed), determinism, stub behavior."""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from os_ex_3_map_reduce_spark.operators.dedup import (
    exact_dedup,
    minhash_lsh_pairs,
    simhash_neardup_pairs,
)
from os_ex_3_map_reduce_spark.operators.multimodal import (
    attach_payload,
    decode_image,
    fake_decode_image,
    fake_image_features,
)
from os_ex_3_map_reduce_spark.operators.similarity import (
    ivf_index,
    ivf_search,
    lsh_bucketed_topk,
    topk_pairs,
    topk_to_query,
)
from os_ex_3_map_reduce_spark.sources.tables import load_table

from .conftest import SF_CORRECT


def test_minhash_lsh_recall_is_total_on_fixture(spark, duck):
    """The fixture's near-dup pairs sit at J≥0.97 with the next pair at
    0.025 — LSH must find every one (miss prob ~4e-20)."""
    docs = load_table(spark, SF_CORRECT, "documents")
    got = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    want = {
        (a, b)
        for a, b in duck.execute("""
            WITH toks AS (SELECT doc_id, string_split(text,' ') t FROM documents),
            sh AS (SELECT doc_id, unnest(list_distinct(list_transform(
                     generate_series(1, len(t)-2),
                     i -> concat_ws(' ', t[i], t[i+1], t[i+2])))) s FROM toks),
            sizes AS (SELECT doc_id, COUNT(*) n FROM sh GROUP BY 1),
            inter AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) i FROM sh a
                      JOIN sh b ON a.s=b.s AND a.doc_id<b.doc_id GROUP BY 1,2)
            SELECT da, db FROM inter JOIN sizes sa ON da=sa.doc_id
            JOIN sizes sb ON db=sb.doc_id
            WHERE i*1.0/(sa.n+sb.n-i) >= 0.5
        """).fetchall()
    }
    assert want, "fixture should contain planted near-dup pairs"
    assert got == want  # recall 1.0 AND precision 1.0 (post-verification)


def test_simhash_finds_planted_neardups(spark):
    docs = load_table(spark, SF_CORRECT, "documents")
    mh = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    sh = {
        (r.doc_a, r.doc_b)
        for r in simhash_neardup_pairs(docs, max_hamming=7).collect()
    }
    assert sh, "simhash should find near-dup pairs"
    overlap = len(mh & sh) / len(mh)
    # different similarity notions; require substantial agreement
    assert overlap >= 0.5, f"simhash∩minhash overlap only {overlap:.2f}"


def test_lsh_topk_recall_measured(spark):
    emb = load_table(spark, SF_CORRECT, "embeddings")
    exact = {(r.vec_a, r.vec_b) for r in topk_pairs(emb, k=20).collect()}
    approx = {(r.vec_a, r.vec_b) for r in lsh_bucketed_topk(emb, k=20).collect()}
    assert len(exact) == 20
    recall = len(exact & approx) / len(exact)
    # multi-table OR-amplified LSH: measured floor at the fixture scale.
    # This asserts a measured floor, not perfection — the operator's
    # contract is "approximate, recall reported".
    assert recall >= 0.5, f"LSH top-k recall {recall:.2f} below floor"


def test_lsh_auto_geometry_discipline():
    """The r12 default (r11 verdict #4): geometry derives from the
    corpus count — base 8x4 at the anchor, one plane per corpus
    doubling (occupancy held constant), +2 tables per added plane
    (measured recall compensation), clamped at 24 planes."""
    from os_ex_3_map_reduce_spark.operators.similarity import (
        lsh_auto_geometry,
    )

    assert lsh_auto_geometry(500) == (8, 4)  # anchor: base geometry
    assert lsh_auto_geometry(1) == (8, 4)  # tiny corpora never shrink
    assert lsh_auto_geometry(2000) == (12, 6)  # sf0.1: the pinned run
    # floor stepping (ADVICE r12): geometry moves exactly at corpus
    # DOUBLINGS, not at round()'s ~0.707x boundary — n just below a
    # doubling keeps the smaller geometry, the doubling itself steps
    assert lsh_auto_geometry(708) == (8, 4)
    assert lsh_auto_geometry(999) == (8, 4)
    assert lsh_auto_geometry(1000) == (10, 5)
    tables, planes = lsh_auto_geometry(500 * 2**9)
    assert planes == 4 + 9 and tables == 8 + 18
    # clamp: planes cap at 24, tables cap with them
    assert lsh_auto_geometry(10**12) == (8 + 2 * 20, 24)
    # monotone non-decreasing in n
    prev = (0, 0)
    for n in (100, 500, 1000, 4000, 64_000, 10**6, 10**9):
        g = lsh_auto_geometry(n)
        assert g >= prev
        prev = g


def test_block_pairs_survive_empty_blocks(spark):
    """n < num_blocks guarantees empty blocks under pmod(xxhash64(id), B);
    empty-sided block-pair groups must be filtered out, not crash the
    Arrow kernel (ADVICE r3: np.stack([]) ValueError in _unpack_block)."""
    from os_ex_3_map_reduce_spark.operators.similarity import threshold_pairs

    rows = [(1, [1.0, 0.0]), (2, [1.0, 0.0]), (3, [0.0, 1.0])]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = topk_pairs(emb, k=5, num_blocks=8).collect()
    assert {(r.vec_a, r.vec_b) for r in got} == {(1, 2), (1, 3), (2, 3)}
    top = got[0]
    assert (top.vec_a, top.vec_b, top.cosine) == (1, 2, 1.0)
    thr = threshold_pairs(emb, threshold=0.9, num_blocks=8).collect()
    assert {(r.vec_a, r.vec_b) for r in thr} == {(1, 2)}


def test_ann_evidence_queries(spark):
    """The driver-visible ANN evidence (verdict r2 #6): the LSH recall
    companion matches its pinned seeded-deterministic values, and every
    IVF output row carries exact_rank/recall columns."""
    from os_ex_3_map_reduce_spark.plans import all_queries

    qs = all_queries()
    row = qs["q_ann_lsh_recall"](spark, SF_CORRECT).collect()[0]
    assert row.n_pairs == 20
    assert row.n_escaped_top100 == 0, "an LSH pair escaped the exact top-100"
    assert row.recall_at_20 == row.n_hit_top20 / 20.0
    assert row.recall_at_20 >= 0.5

    ivf = qs["q_ann_ivf_topk"](spark, SF_CORRECT).collect()
    assert len(ivf) == 10
    assert all(r.recall_at_10 >= 0.8 for r in ivf)
    hits = [r for r in ivf if r.exact_rank is not None]
    assert len(hits) == round(ivf[0].recall_at_10 * 10)


def test_ivf_recall_and_pruning(spark):
    """IVF probes 4/16 lists yet must keep high recall on the fixture;
    and the probe really prunes (scans a strict subset of rows)."""
    emb = load_table(spark, SF_CORRECT, "embeddings")
    query = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    assigned, centroids = ivf_index(emb, nlist=16)
    assigned = assigned.persist()
    try:
        total = assigned.count()
        assert assigned.select("list_id").distinct().count() > 1
        got = {r.vec_id for r in ivf_search(assigned, centroids, query, k=10, nprobe=4).collect()}
        exact = {r.vec_id for r in topk_to_query(emb, query, k=10).collect()}
        recall = len(got & exact) / len(exact)
        assert recall >= 0.8, f"IVF recall@10 {recall:.2f} below floor"
        import numpy as np

        q = np.asarray(query) / np.linalg.norm(query)
        scores = centroids @ q - 0.5 * (centroids * centroids).sum(axis=1)
        probe = [int(i) for i in np.argsort(-scores)[:4]]
        scanned = assigned.where(F.col("list_id").isin(probe)).count()
        assert 0 < scanned < total, (scanned, total)
    finally:
        assigned.unpersist()


def test_sample_trained_centroids_partitioning_invariant(spark):
    """The deterministic trainer behind q_ann_ivf_topk's pinned oracle:
    seeded Lloyd on an id-ordered sample must yield BIT-identical
    centroids no matter how the input is partitioned (the property the
    spark.ml k-means|| path cannot give), and the sample-trained index
    must keep the same recall floor as the ml-trained one."""
    import numpy as np

    from os_ex_3_map_reduce_spark.operators import train_centroids_sample

    emb = load_table(spark, SF_CORRECT, "embeddings")
    c3 = train_centroids_sample(emb.repartition(3), nlist=16)
    c11 = train_centroids_sample(emb.repartition(11), nlist=16)
    assert np.array_equal(c3, c11), "centroids depend on partitioning"
    # ... and under the shuffle.partitions variants the registration
    # comment cites (32/7/13 — ADVICE r8: the claim must match the
    # checked-in check, not just repartition variants)
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for n in ("32", "7", "13"):
            spark.conf.set("spark.sql.shuffle.partitions", n)
            cn = train_centroids_sample(emb, nlist=16)
            assert np.array_equal(c3, cn), f"centroids drift at shuffle.partitions={n}"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)

    query = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    assigned, cents = ivf_index(emb, nlist=16, trainer="sample")
    got = {r.vec_id for r in ivf_search(assigned, cents, query, k=10, nprobe=4).collect()}
    exact = {r.vec_id for r in topk_to_query(emb, query, k=10).collect()}
    assert len(got & exact) / len(exact) >= 0.8


def test_sample_trainer_degenerate_inputs(spark):
    """Empty input raises a clear error instead of a numpy stack-trace;
    a sample smaller than nlist still trains (duplicate seeds, surplus
    lists empty) and assignment stays total."""
    import pytest as _pytest

    from os_ex_3_map_reduce_spark.operators import train_centroids_sample

    emb = load_table(spark, SF_CORRECT, "embeddings")
    empty = emb.where(F.col("vec_id") < 0)
    with _pytest.raises(ValueError, match="empty training input"):
        train_centroids_sample(empty, nlist=16)

    tiny = emb.where(F.col("vec_id") < 5)  # 5 points, 16 lists
    cents = train_centroids_sample(tiny, nlist=16)
    assert cents.shape == (16, 64)
    # assign with the TINY-trained centroids (duplicate seeds), so the
    # documented surplus-empty-list behavior is what's actually tested:
    # every point still gets a list, and ≤5 distinct lists are populated
    assigned, _ = ivf_index(tiny, nlist=16, trainer="sample")
    assert assigned.where(F.col("list_id").isNull()).count() == 0
    assert assigned.count() == 5
    used = assigned.select("list_id").distinct().count()
    assert 1 <= used <= 5  # surplus lists stay empty, probes never route there


def test_ivf_layout_prunes_at_the_scan(spark, tmp_path):
    """The 100 TB claim in ivf_index's docstring, made checkable through
    the public API: ivf_write the assignment, ivf_search_indexed the
    query, and assert the probe's SCAN touches only the probed
    partitions' files — partition pruning, not a post-scan filter. This
    is what makes IVF sublinear at scale: (nlist − nprobe)/nlist of the
    corpus is never read."""
    from os_ex_3_map_reduce_spark.operators import ivf_search_indexed, ivf_write

    emb = load_table(spark, SF_CORRECT, "embeddings")
    assigned, cents = ivf_index(emb, nlist=16, trainer="sample")
    path = str(tmp_path / "ivf")
    ivf_write(assigned, path)

    query = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    res = ivf_search_indexed(spark, path, cents, query, k=10, nprobe=4)

    def scanned_files(df):
        # runtime evidence, not plan text: execute THIS physical plan and
        # read the FileSourceScan's numFiles metric (inputFiles() would
        # lie — it reports the relation's files before pruning)
        plan = df._jdf.queryExecution().executedPlan()
        plan.executeCollect()
        return int(plan.collectLeaves().apply(0).metrics().apply("numFiles").value())

    n_all = scanned_files(spark.read.parquet(path))
    n_probed = scanned_files(res)
    assert 0 < n_probed < n_all, (n_probed, n_all)
    # the probe's plan prunes at the partition level, not post-scan
    plan_str = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [list_id" in plan_str
    # and the indexed search returns exactly what the in-memory search
    # over the same assignment/centroids returns
    direct = ivf_search(assigned, cents, query, k=10, nprobe=4)
    assert sorted(map(tuple, res.collect())) == sorted(
        map(tuple, direct.collect())
    )


def test_ivf_batch_search_matches_singles_and_prunes(spark, tmp_path):
    """Batched ANN (VERDICT r8 #4): Q queries answered in ONE scan must
    return exactly the per-query ivf_search results (same probe lists,
    same rounded scores, same tiebreaks), and against a written index
    the union-of-probes filter must still PRUNE at the scan — asserted
    from the executed FileSourceScan's numFiles metric, with the batch
    sized so the union (nprobe=2 x 3 queries <= 6 lists) stays well
    under nlist=16."""
    from os_ex_3_map_reduce_spark.operators import (
        ivf_search_batch,
        ivf_search_batch_indexed,
        ivf_write,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    assigned, cents = ivf_index(emb, nlist=16, trainer="sample")
    qvs = [
        [float(x) for x in r.embedding]
        for r in sorted(
            emb.where(F.col("vec_id") < 3).collect(), key=lambda r: r.vec_id
        )
    ]

    batch = ivf_search_batch(assigned, cents, qvs, k=5, nprobe=2)
    got = sorted(map(tuple, batch.collect()))
    assert len(got) == 15
    for qi, qv in enumerate(qvs):
        single = ivf_search(assigned, cents, qv, k=5, nprobe=2).collect()
        exp = sorted((qi, r.vec_id, r.cosine, i + 1) for i, r in enumerate(single))
        assert [g for g in got if g[0] == qi] == exp, qi

    path = str(tmp_path / "ivf_batch")
    ivf_write(assigned, path)
    res = ivf_search_batch_indexed(spark, path, cents, qvs, k=5, nprobe=2)
    assert sorted(map(tuple, res.collect())) == got

    def scanned_files(df):
        plan = df._jdf.queryExecution().executedPlan()
        plan.executeCollect()

        # the window's exchange puts the whole plan under AQE, whose
        # final tree treats materialized query stages as LEAVES — walk
        # the tree manually, descending into AdaptiveSparkPlan and each
        # QueryStageExec's wrapped plan, to reach the file scan
        def find_scan(node):
            if node.metrics().contains("numFiles"):
                return node
            if node.nodeName() == "AdaptiveSparkPlan":
                return find_scan(node.executedPlan())
            if "QueryStage" in node.getClass().getSimpleName():
                return find_scan(node.plan())
            kids = node.children()
            for i in range(kids.size()):
                hit = find_scan(kids.apply(i))
                if hit is not None:
                    return hit
            return None

        scan = find_scan(plan)
        assert scan is not None, "no FileSourceScan leaf with numFiles metric"
        return int(scan.metrics().apply("numFiles").value())

    n_all = scanned_files(spark.read.parquet(path))
    n_probed = scanned_files(res)
    assert 0 < n_probed < n_all, (n_probed, n_all)
    plan_str = res._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [list_id" in plan_str


def test_chargram_minhash_finds_planted_neardups(spark, duck):
    """Char-5-gram LSH must find the same planted near-dup pairs the
    word-shingle path finds (the fixture's dups are near-verbatim)."""
    docs = load_table(spark, SF_CORRECT, "documents")
    word = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(docs, threshold=0.5).collect()
    }
    char = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            docs,
            threshold=0.5,
            shingle_n=5,
            shingle_mode="char",
            num_hashes=32,
            bands=8,
            max_bucket=2000,
        ).collect()
    }
    assert word and word == char, (len(word), len(char))


def test_exact_dedup_keeps_min_representative(spark):
    docs = load_table(spark, SF_CORRECT, "documents").select(
        "doc_id", F.col("lang").alias("k")
    )
    reps = exact_dedup(docs, ["k"], "doc_id").collect()
    want = {
        (r.k, r.min_id)
        for r in docs.groupBy("k").agg(F.min("doc_id").alias("min_id")).collect()
    }
    assert {(r.k, r.doc_id) for r in reps} == want


def test_decode_image_stub_raises():
    with pytest.raises(NotImplementedError):
        decode_image(b"\x89PNG")


def test_fake_decode_deterministic_and_shaped(spark):
    img1 = fake_decode_image(b"payload", 4, 4)
    img2 = fake_decode_image(b"payload", 4, 4)
    assert (img1 == img2).all() and img1.shape == (4, 4, 3)

    docs = attach_payload(load_table(spark, SF_CORRECT, "documents")).limit(20)
    feats = fake_image_features(docs).collect()
    assert len(feats) == 20
    for r in feats:
        assert (r.height, r.width, r.channels) == (4, 4, 3)
        assert 0.0 <= r.mean_pixel <= 255.0
        assert all(0 <= m <= 255 for m in (r.max_c0, r.max_c1, r.max_c2))


def test_resize_nearest_exact():
    import numpy as np

    from os_ex_3_map_reduce_spark.operators.multimodal import resize_nearest

    img = np.arange(4 * 4 * 3, dtype=np.uint8).reshape(4, 4, 3)
    out = resize_nearest(img, 2, 2)
    # nearest-neighbor with floor mapping picks rows/cols 0 and 2
    assert out.shape == (2, 2, 3)
    assert (out == img[[0, 2]][:, [0, 2]]).all()
    up = resize_nearest(img, 8, 8)
    assert up.shape == (8, 8, 3)
    assert (up[::2, ::2] == img).all()


def test_resize_images_stage_matches_local_kernel(spark):
    """The Spark resize stage (mapInPandas over payload bytes) must emit
    exactly fake_decode -> resize_nearest computed locally per doc."""
    from os_ex_3_map_reduce_spark.operators.multimodal import (
        attach_payload,
        fake_decode_image,
        resize_images,
        resize_nearest,
    )

    rows = [(1, "alpha beta"), (2, "gamma"), (3, "")]
    df = attach_payload(spark.createDataFrame(rows, "doc_id long, text string"))
    got = {
        r.doc_id: (r.height, r.width, list(r.pixels))
        for r in resize_images(df, out_h=2, out_w=2).collect()
    }
    for doc_id, text in rows:
        want = resize_nearest(
            fake_decode_image(text.encode(), 4, 4), 2, 2
        ).ravel()
        assert got[doc_id] == (2, 2, [int(x) for x in want])


def test_frame_sampling_shape_and_determinism(spark):
    from os_ex_3_map_reduce_spark.operators.multimodal import (
        attach_payload,
        sample_frames,
    )

    docs = attach_payload(load_table(spark, SF_CORRECT, "documents")).limit(50)
    a = sample_frames(docs, num_frames=3).collect()
    b = sample_frames(docs, num_frames=3).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))
    per_doc = {}
    for r in a:
        per_doc.setdefault(r.doc_id, []).append(r.frame_idx)
    assert all(sorted(v) == [0, 5, 10] for v in per_doc.values())


def test_connected_components_known_graph(spark):
    from os_ex_3_map_reduce_spark.operators.dedup import connected_components

    # components: {1,2,3,4} (a path, diameter 3 — needs >1 round),
    # {10,11}, and 20-20 self-loop
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (10, 11), (20, 20)], "src long, dst long"
    )
    got = {(r.id, r.label) for r in connected_components(edges).collect()}
    assert got == {(1, 1), (2, 1), (3, 1), (4, 1), (10, 10), (11, 10), (20, 20)}


def test_connected_components_round_budget_semantics(spark):
    """``max_iter`` counts PROPAGATION ROUNDS exactly — the r15 fused
    init (identity labels + round 1 in one exchange) must not shift the
    budget: one round moves labels exactly one hop on a path graph, and
    a zero budget degenerates to identity labels (the pre-fusion init
    state)."""
    from os_ex_3_map_reduce_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4)], "src long, dst long"
    )
    got1 = {
        (r.id, r.label)
        for r in connected_components(edges, max_iter=1).collect()
    }
    assert got1 == {(1, 1), (2, 1), (3, 2), (4, 3)}
    got0 = {
        (r.id, r.label)
        for r in connected_components(edges, max_iter=0).collect()
    }
    assert got0 == {(1, 1), (2, 2), (3, 3), (4, 4)}


def test_rolling_fingerprint_matches_python_reference(spark):
    from os_ex_3_map_reduce_spark.functions.text import rolling_hashes, winnow
    from os_ex_3_map_reduce_spark.plans import all_queries

    got = {
        r.doc_id: [int(x) for x in r.fingerprints.split("|")]
        for r in all_queries()["q_fingerprint_rolling"](spark, SF_CORRECT)
        .limit(9999)
        .collect()
    }
    docs = load_table(spark, SF_CORRECT, "documents").collect()
    checked = 0
    for row in docs[:100]:
        want = [
            h - (1 << 63) if h >= (1 << 63) else h
            for h in winnow(rolling_hashes(row.text.split(" ")))
        ]
        if want:
            assert got[row.doc_id] == want
            checked += 1
    assert checked > 50


class TestCountMinSketch:
    """CMS guarantees: never underestimates; overestimate bounded by
    (e/width)*N; merge of split sketches == sketch of the union."""

    def test_estimates_bounded(self, spark):
        from os_ex_3_map_reduce_spark.operators.sketch import (
            cms_build,
            cms_estimate,
        )
        from os_ex_3_map_reduce_spark.sources.tables import load_table

        ev = load_table(spark, "/root/testdata/sf0.01", "events")
        n_total = ev.count()
        depth, width = 5, 1024
        sketch = cms_build(ev, "user_id", depth=depth, width=width)
        est = cms_estimate(
            sketch, ev.select("user_id").distinct(), "user_id", depth, width
        )
        exact = ev.groupBy("user_id").count()
        joined = {
            r["user_id"]: (r["est"], r["count"])
            for r in est.join(exact, "user_id").collect()
        }
        assert joined, "no estimates produced"
        import math

        bound = math.e / width * n_total
        for uid, (e_, x) in joined.items():
            assert e_ >= x, f"CMS underestimated user {uid}: {e_} < {x}"
            assert e_ - x <= bound, f"user {uid} overestimate {e_ - x} > {bound}"

    def test_top_set_matches_exact(self, spark):
        from os_ex_3_map_reduce_spark.plans import all_queries

        ev_top = all_queries()["q_sketch_heavyhitters"](
            spark, "/root/testdata/sf0.01"
        ).collect()
        from os_ex_3_map_reduce_spark.sources.tables import load_table
        from pyspark.sql import functions as F

        exact = (
            load_table(spark, "/root/testdata/sf0.01", "events")
            .groupBy("user_id")
            .count()
            .orderBy(F.desc("count"), F.asc("user_id"))
            .limit(10)
            .collect()
        )
        assert {r["user_id"] for r in ev_top} == {r["user_id"] for r in exact}

    def test_merge_equals_union(self, spark):
        from pyspark.sql import functions as F

        from os_ex_3_map_reduce_spark.operators.sketch import (
            cms_build,
            cms_merge,
        )
        from os_ex_3_map_reduce_spark.sources.tables import load_table

        ev = load_table(spark, "/root/testdata/sf0.001", "events")
        lo = ev.filter(F.col("value") < 100)
        hi = ev.filter(F.col("value") >= 100)
        merged = cms_merge(
            cms_build(lo, "user_id", 3, 256), cms_build(hi, "user_id", 3, 256)
        )
        direct = cms_build(ev, "user_id", 3, 256)
        m = {(r["row"], r["bucket"]): r["cnt"] for r in merged.collect()}
        d = {(r["row"], r["bucket"]): r["cnt"] for r in direct.collect()}
        assert m == d


def test_neardup_pairs_cache_reuses_and_releases_sigs(spark):
    """The near-dup family shares one materialized pair relation per
    (context, sf_dir, mode); the signature relation must be unpersisted
    once pairs are materialized (no cache-block accumulation)."""
    from os_ex_3_map_reduce_spark.plans.llm import _DF_CACHE, _neardup_pairs

    # start from a clean cache state: other tests use the lazy
    # minhash_lsh_pairs API directly and leave its persisted signature
    # relation behind by design
    _DF_CACHE.clear()
    spark.catalog.clearCache()
    a = _neardup_pairs(spark, SF_CORRECT, "word")
    b = _neardup_pairs(spark, SF_CORRECT, "word")
    assert a is b, "second consumer must reuse the cached pair relation"
    assert a.storageLevel.useMemory, "pair relation should be persisted"
    # only the pair relations remain cached — signatures were released
    jsc = spark.sparkContext._jsc.sc()
    cached = [
        jsc.getRDDStorageInfo()[i].name()
        for i in range(len(jsc.getRDDStorageInfo()))
    ]
    assert not any("shingle" in (n or "") for n in cached)
    # and the cached relation is the same rows as a fresh computation
    from os_ex_3_map_reduce_spark.operators.dedup import minhash_lsh_pairs
    from os_ex_3_map_reduce_spark.sources.tables import load_table

    fresh = {
        (r.doc_a, r.doc_b)
        for r in minhash_lsh_pairs(
            load_table(spark, SF_CORRECT, "documents"), threshold=0.5
        ).collect()
    }
    assert {(r.doc_a, r.doc_b) for r in a.collect()} == fresh


def test_df_cache_evicts_lru_not_bulk(spark):
    """Cache overflow must evict only the single oldest live entry, not
    bulk-clear (round-2 advice: bulk clear unpersisted relations that
    live callers were still holding)."""
    import os_ex_3_map_reduce_spark.plans.llm as llm

    saved, saved_max = dict(llm._DF_CACHE), llm._DF_CACHE_MAX
    llm._DF_CACHE.clear()
    llm._DF_CACHE_MAX = 2
    try:
        mk = lambda i: llm._cached_df(
            spark, ("t_evict", i), lambda: spark.range(i + 1).persist()
        )
        a, b = mk(0), mk(1)
        assert len(llm._DF_CACHE) == 2
        c = mk(2)  # overflow: evicts ONLY the oldest (a)
        assert len(llm._DF_CACHE) == 2
        assert not a.storageLevel.useMemory, "oldest entry unpersisted"
        assert b.storageLevel.useMemory, "newer live entry must survive"
        assert c.storageLevel.useMemory
        # LRU touch: re-reading b makes it newest; next insert evicts c
        assert llm._cached_df(spark, ("t_evict", 1), lambda: None) is b
        mk(3)
        assert b.storageLevel.useMemory
        assert not c.storageLevel.useMemory
    finally:
        for df in llm._DF_CACHE.values():
            try:
                df.unpersist()
            except Exception:
                pass
        llm._DF_CACHE.clear()
        llm._DF_CACHE.update(saved)
        llm._DF_CACHE_MAX = saved_max


def test_ddl_field_names_handles_nested_types():
    from os_ex_3_map_reduce_spark.operators.map_reduce import _ddl_field_names

    assert _ddl_field_names("w string, cnt long") == ["w", "cnt"]
    assert _ddl_field_names("k struct<a:int,b:int>, v long") == ["k", "v"]
    assert _ddl_field_names("m map<string,array<int>>, n int") == ["m", "n"]


def test_training_pipeline_extras_nonvacuous(spark):
    """The four pipeline-extra queries must do real work on the fixture
    (a sampling op that samples nothing, or a contamination screen that
    finds nothing, would be a vacuous pass)."""
    from os_ex_3_map_reduce_spark.plans import all_queries

    qs = all_queries()
    n_docs = load_table(spark, SF_CORRECT, "documents").count()

    sample = qs["q_sample_hash"](spark, SF_CORRECT).count()
    assert 0.04 * n_docs < sample < 0.2 * n_docs, sample  # ~10% ± slack

    cont = {r.eval_doc: r for r in qs["q_contamination"](spark, SF_CORRECT).collect()}
    assert cont, "contamination screen found no overlapping docs"
    assert all(0.0 < r.containment <= 1.0 for r in cont.values())
    assert all(r.n_shared <= r.n_eval for r in cont.values())
    # exactness itself is covered by the DuckDB parity test

    rep = qs["q_repetition"](spark, SF_CORRECT).collect()
    assert len(rep) == n_docs
    assert all(0.0 < r.rep_ratio <= 1.0 for r in rep)
    assert any(r.top_cnt > 1 for r in rep), "tiny vocab must repeat bigrams"

    norm = qs["q_normalize_text"](spark, SF_CORRECT).collect()
    assert sum(r.n_removed for r in norm) > 0
    assert all(" the " not in f" {r.clean_text} " for r in norm)


def test_bmp_codec_golden_bytes():
    """Pin the BMP codec to the PUBLIC format spec with handcrafted
    bytes — encode→decode self-consistency alone would let a symmetric
    bug cancel out."""
    import struct

    import numpy as np

    from os_ex_3_map_reduce_spark.functions.codecs import decode_bmp, encode_bmp

    img = np.array([[[1, 2, 3], [4, 5, 6]]], dtype=np.uint8)  # 1x2 RGB
    got = encode_bmp(img)
    # handcrafted per spec: 54-byte header, one row BGR + 2 pad bytes
    want = (
        struct.pack("<2sIHHI", b"BM", 62, 0, 0, 54)
        + struct.pack("<IiiHHIIiiII", 40, 2, 1, 1, 24, 0, 8, 2835, 2835, 0, 0)
        + bytes([3, 2, 1, 6, 5, 4, 0, 0])
    )
    assert got == want
    assert np.array_equal(decode_bmp(want), img)
    # top-down variant (negative height) must also parse
    td = bytearray(want)
    td[22:26] = struct.pack("<i", -1)
    assert np.array_equal(decode_bmp(bytes(td)), img)
    # padding round-trip at a width that needs it (6*3=18 -> pad 2)
    img2 = np.arange(8 * 6 * 3, dtype=np.uint8).reshape(8, 6, 3)
    assert np.array_equal(decode_bmp(encode_bmp(img2)), img2)
    with pytest.raises(ValueError, match="not a BMP"):
        decode_bmp(b"XX" + want[2:])


def test_wav_codec_golden_bytes():
    import struct

    import numpy as np

    from os_ex_3_map_reduce_spark.functions.codecs import (
        decode_wav_pcm16,
        encode_wav_pcm16,
    )

    samples = np.array([0, 1000, -1000, 32767], dtype=np.int16)
    got = encode_wav_pcm16(samples, 8000)
    want = (
        struct.pack("<4sI4s", b"RIFF", 36 + 8, b"WAVE")
        + struct.pack("<4sIHHIIHH", b"fmt ", 16, 1, 1, 8000, 16000, 2, 16)
        + struct.pack("<4sI", b"data", 8)
        + samples.astype("<i2").tobytes()
    )
    assert got == want
    back, rate = decode_wav_pcm16(want)
    assert rate == 8000 and np.array_equal(back, samples)
    # an extra chunk before data must be skipped, not fatal
    extra = want[:12] + struct.pack("<4sI", b"LIST", 4) + b"INFO" + want[12:]
    fixed = bytearray(extra)
    fixed[4:8] = struct.pack("<I", len(extra) - 8)
    back2, _ = decode_wav_pcm16(bytes(fixed))
    assert np.array_equal(back2, samples)
    with pytest.raises(ValueError, match="not a RIFF"):
        decode_wav_pcm16(b"JUNK" + want[4:])
    # truncated data chunk (declared csize > remaining bytes) must raise,
    # not silently return fewer samples (ADVICE r3)
    with pytest.raises(ValueError, match="truncated data chunk"):
        decode_wav_pcm16(want[:-2])
    # short fmt chunk raises the API's ValueError, not struct.error
    short_fmt = (
        struct.pack("<4sI4s", b"RIFF", 4 + 8 + 8, b"WAVE")
        + struct.pack("<4sI", b"fmt ", 8) + b"\x01\x00\x01\x00\x40\x1f\x00\x00"
        + struct.pack("<4sI", b"data", 0)
    )
    with pytest.raises(ValueError, match="truncated fmt chunk"):
        decode_wav_pcm16(short_fmt)


def test_merge_upsert_semantics(spark):
    """CDC-apply arbitration: matched update replaces, matched delete
    removes, unmatched update inserts, unmatched delete is a no-op, and
    untouched base rows carry over; latest_wins collapses multi-row
    batches by version before the merge."""
    from os_ex_3_map_reduce_spark.operators.merge import latest_wins, merge_upsert

    base = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0)], "k long, s string, v double"
    )
    updates = spark.createDataFrame(
        [
            (2, "U", "b2", 21.0),   # matched update
            (3, "D", None, None),   # matched delete
            (4, "U", "d", 40.0),    # unmatched update = insert
            (5, "D", None, None),   # unmatched delete = no-op
        ],
        "k long, op string, s string, v double",
    )
    got = {tuple(r) for r in merge_upsert(base, updates, key="k").collect()}
    assert got == {(1, "a", 10.0), (2, "b2", 21.0), (4, "d", 40.0)}

    multi = spark.createDataFrame(
        [(2, "U", "old", 1, 0.0), (2, "U", "new", 2, 0.0), (2, "D", None, 0, 0.0)],
        "k long, op string, s string, ver long, v double",
    )
    kept = latest_wins(multi, key="k", version_col="ver").collect()
    assert len(kept) == 1 and kept[0].s == "new" and kept[0].ver == 2

    # op_col is a parameter, not a hard-coded name (ADVICE r3); a
    # same-version delete beats the update (asc op: 'D' < 'U')
    renamed = spark.createDataFrame(
        [(2, "U", "upd", 2, 0.0), (2, "D", None, 2, 0.0)],
        "k long, change string, s string, ver long, v double",
    )
    kept2 = latest_wins(renamed, key="k", version_col="ver", op_col="change").collect()
    assert len(kept2) == 1 and kept2[0].change == "D"


def test_ivf_batch_matches_singles_on_random_data(spark):
    """Batch/single equivalence beyond the fixture: seeded random
    embedding sets — including duplicate vectors, a zero vector (the
    round-9 guard: deterministic routing, no NaN), and duplicate query
    vectors — must give ivf_search_batch == per-query ivf_search for
    every query, scores and tiebreaks included."""
    import numpy as np

    from os_ex_3_map_reduce_spark.operators import (
        ivf_index,
        ivf_search,
        ivf_search_batch,
    )

    for seed in (0, 7):
        rng = np.random.RandomState(seed)
        n, d = 60, 8
        X = rng.randn(n, d)
        X[5] = X[3]  # duplicate vector
        X[9] = 0.0  # zero vector: guard must route it, not NaN it
        emb = spark.createDataFrame(
            [(i, [float(v) for v in X[i]]) for i in range(n)],
            "vec_id long, embedding array<double>",
        )
        assigned, cents = ivf_index(emb, nlist=4, trainer="sample")
        assigned = assigned.persist()
        assert assigned.where(F.col("list_id").isNull()).count() == 0
        qvs = [
            [float(v) for v in X[0]],
            [float(v) for v in X[17]],
            [float(v) for v in X[17]],  # duplicate query
        ]
        batch = sorted(
            map(
                tuple,
                ivf_search_batch(assigned, cents, qvs, k=4, nprobe=2).collect(),
            )
        )
        for qi, qv in enumerate(qvs):
            single = ivf_search(assigned, cents, qv, k=4, nprobe=2).collect()
            exp = sorted(
                (qi, r.vec_id, r.cosine, i + 1) for i, r in enumerate(single)
            )
            assert [b for b in batch if b[0] == qi] == exp, (seed, qi)
        import pytest as _pytest

        with _pytest.raises(ValueError, match="empty query batch"):
            ivf_search_batch(assigned, cents, [], k=4)
        assigned.unpersist()


def test_ivf_batch_production_q50_against_numpy_oracle(spark):
    """Production-shaped batch (Q=50 queries) checked against an
    INDEPENDENT numpy reimplementation of the whole IVF pipeline —
    probe selection, pruned candidate sets, rounded cosine scoring,
    (-cosine, vec_id) tiebreaks — not Spark-vs-Spark. One scan serves
    all 50 queries; every per-query top-k must match the oracle
    exactly."""
    import numpy as np

    from os_ex_3_map_reduce_spark.operators import ivf_index, ivf_search_batch

    emb = load_table(spark, SF_CORRECT, "embeddings")
    rows = sorted(emb.collect(), key=lambda r: r.vec_id)
    ids = np.array([r.vec_id for r in rows])
    X = np.array([r.embedding for r in rows], dtype=np.float64)
    Xn = X / np.linalg.norm(X, axis=1, keepdims=True)

    assigned, cents = ivf_index(emb, nlist=16, trainer="sample")
    assigned = assigned.persist()
    qvs = [[float(v) for v in X[i]] for i in range(50)]
    got = sorted(
        map(tuple, ivf_search_batch(assigned, cents, qvs, k=5, nprobe=4).collect())
    )
    assigned.unpersist()

    # independent oracle: numpy end-to-end
    lists = (Xn @ cents.T - 0.5 * (cents * cents).sum(axis=1)).argmax(axis=1)
    exp = []
    for qi in range(50):
        q = X[qi] / np.linalg.norm(X[qi])
        probe = set(np.argsort(-(cents @ q - 0.5 * (cents * cents).sum(axis=1)))[:4])
        cand = np.array([j for j in range(len(ids)) if lists[j] in probe])
        cos = np.round(Xn[cand] @ q, 4)
        order = sorted(range(len(cand)), key=lambda j: (-cos[j], ids[cand[j]]))[:5]
        exp.extend(
            (qi, int(ids[cand[j]]), float(cos[j]), rank + 1)
            for rank, j in enumerate(order)
        )
    assert got == sorted(exp)
    assert len(got) == 250


def test_brute_batch_matches_singles(spark):
    """topk_to_query_batch (exact brute force, one scan for Q queries)
    must equal topk_to_query per query — scores, rounding, tiebreaks —
    on the fixture, for a batch of 10 queries."""
    from os_ex_3_map_reduce_spark.operators import topk_to_query_batch

    emb = load_table(spark, SF_CORRECT, "embeddings")
    rows = sorted(
        emb.where(F.col("vec_id") < 10).collect(), key=lambda r: r.vec_id
    )
    qvs = [[float(v) for v in r.embedding] for r in rows]
    got = sorted(
        map(tuple, topk_to_query_batch(emb, qvs, k=5).collect())
    )
    assert len(got) == 50
    for qi, qv in enumerate(qvs):
        single = topk_to_query(emb, qv, k=5).collect()
        exp = sorted((qi, r.vec_id, r.cosine, i + 1) for i, r in enumerate(single))
        assert [g for g in got if g[0] == qi] == exp, qi


def test_lsh_batch_search_recall_and_pruning(spark):
    """Batched LSH query search: measured recall vs the EXACT batch
    (never assumed), the multiprobe dial strictly widens the candidate
    set, results are deterministic under repartitioning, and the
    union-probe really prunes (scans a strict subset of rows)."""
    from os_ex_3_map_reduce_spark.operators import (
        lsh_search_batch,
        topk_to_query_batch,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    rows = sorted(
        emb.where(F.col("vec_id") < 5).collect(), key=lambda r: r.vec_id
    )
    qvs = [[float(v) for v in r.embedding] for r in rows]

    exact = topk_to_query_batch(emb, qvs, k=10).collect()
    exact_sets = {
        qi: {r.vec_id for r in exact if r.query_id == qi} for qi in range(5)
    }

    approx = lsh_search_batch(emb, qvs, k=10, planes=6, multiprobe=1)
    got = approx.collect()
    got_sets = {
        qi: {r.vec_id for r in got if r.query_id == qi} for qi in range(5)
    }
    recalls = [
        len(got_sets[qi] & exact_sets[qi]) / 10 for qi in range(5)
    ]
    # the query vector itself always collides with its own bucket
    assert all(qi in got_sets[qi] for qi in range(5))
    # measured 0.32 at planes=6/multiprobe=1 on the fixture; floor
    # set under it with margin
    assert sum(recalls) / 5 >= 0.2, f"mean recall {recalls} below floor"

    # multiprobe=2 widens the probe set -> recall never decreases
    wider = lsh_search_batch(emb, qvs, k=10, planes=6, multiprobe=2).collect()
    wider_sets = {
        qi: {r.vec_id for r in wider if r.query_id == qi} for qi in range(5)
    }
    recalls2 = [
        len(wider_sets[qi] & exact_sets[qi]) / 10 for qi in range(5)
    ]
    assert all(b >= a for a, b in zip(recalls, recalls2)), (recalls, recalls2)

    # deterministic under input layout
    again = sorted(
        map(
            tuple,
            lsh_search_batch(
                emb.repartition(7), qvs, k=10, planes=6, multiprobe=1
            ).collect(),
        )
    )
    assert again == sorted(map(tuple, got))

    # the probe prunes: candidates scanned < corpus — check via the
    # public path: score with k=n and count distinct vec_ids reached
    n_total = emb.count()
    all_rows = lsh_search_batch(emb, qvs, k=n_total, planes=6, multiprobe=1)
    n_candidates = all_rows.select("vec_id").distinct().count()
    assert 0 < n_candidates < n_total, (n_candidates, n_total)


def test_lsh_batch_indexed_prunes_at_the_scan(spark, tmp_path):
    """The LSH batch against a WRITTEN bucketed corpus (lsh_bucket_assign
    + ivf_write): identical results to the in-memory search, and the
    union-of-probe-buckets filter prunes at the scan — executed-plan
    numFiles strictly below the full listing (same assertion the IVF
    index carries)."""
    from os_ex_3_map_reduce_spark.operators import (
        ivf_write,
        lsh_bucket_assign,
        lsh_search_batch,
        lsh_search_batch_indexed,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    rows = sorted(
        emb.where(F.col("vec_id") < 3).collect(), key=lambda r: r.vec_id
    )
    qvs = [[float(v) for v in r.embedding] for r in rows]

    assigned = lsh_bucket_assign(emb, planes=6)
    path = str(tmp_path / "lshidx")
    ivf_write(assigned, path)

    mem = sorted(
        map(tuple, lsh_search_batch(emb, qvs, k=10, planes=6).collect())
    )
    idx = lsh_search_batch_indexed(spark, path, qvs, k=10, planes=6)
    assert sorted(map(tuple, idx.collect())) == mem

    def scanned_files(df):
        plan = df._jdf.queryExecution().executedPlan()
        plan.executeCollect()

        def find_scan(node):
            if node.metrics().contains("numFiles"):
                return node
            if node.nodeName() == "AdaptiveSparkPlan":
                return find_scan(node.executedPlan())
            if "QueryStage" in node.getClass().getSimpleName():
                return find_scan(node.plan())
            kids = node.children()
            for i in range(kids.size()):
                hit = find_scan(kids.apply(i))
                if hit is not None:
                    return hit
            return None

        scan = find_scan(plan)
        assert scan is not None, "no scan with numFiles metric"
        return int(scan.metrics().apply("numFiles").value())

    n_all = scanned_files(spark.read.parquet(path))
    n_probed = scanned_files(idx)
    assert 0 < n_probed < n_all, (n_probed, n_all)
    plan_str = idx._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [list_id" in plan_str


# --- product quantization (operators/pq.py) -------------------------------


def test_pq_roundtrip_shapes_and_compression(spark):
    """Codebooks are (m, ksub, d/m); codes are m ids in [0, ksub) —
    the 32x compression claim (16 one-byte ids vs 64 float64s) is a
    property of these shapes."""
    from os_ex_3_map_reduce_spark.operators import pq_encode, pq_train

    emb = load_table(spark, SF_CORRECT, "embeddings")
    cb = pq_train(emb, m=16, ksub=16)
    assert cb.shape == (16, 16, 4)
    rows = pq_encode(emb, cb).limit(50).collect()
    assert rows
    for r in rows:
        assert len(r.code) == 16
        assert all(0 <= c < 16 for c in r.code)


def test_pq_train_and_search_deterministic_under_layout(spark):
    """Same fixture, different partitionings -> identical codebooks,
    codes, and search results (what lets q_ann_pq_topk pin its
    oracle)."""
    from os_ex_3_map_reduce_spark.operators import (
        pq_encode,
        pq_search_batch,
        pq_train,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    qvs = [
        [float(v) for v in r.embedding]
        for r in sorted(
            emb.where(F.col("vec_id") < 3).collect(), key=lambda r: r.vec_id
        )
    ]
    before = spark.conf.get("spark.sql.shuffle.partitions")
    draws = []
    try:
        for parts, shuffle in ((3, "7"), (11, "13"), (5, "32")):
            spark.conf.set("spark.sql.shuffle.partitions", shuffle)
            src = emb.repartition(parts)
            cb = pq_train(src, m=16, ksub=16)
            got = pq_search_batch(pq_encode(src, cb), cb, qvs, k=5)
            draws.append((cb.tobytes(), sorted(tuple(r) for r in got.collect())))
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", before)
    assert draws[0] == draws[1] == draws[2]
    # every query's own row survives quantization as rank 1
    top = {r[0]: r[1] for r in draws[0][1] if r[3] == 1}
    assert top == {0: 0, 1: 1, 2: 2}


def test_pq_recall_measured_and_m_dial(spark):
    """Recall@10 vs the EXACT batch is measured, never assumed; more
    subspaces (finer quantization, less compression) buys more recall
    on the fixture — the standard PQ dial."""
    from os_ex_3_map_reduce_spark.operators import (
        pq_encode,
        pq_search_batch,
        pq_train,
        topk_to_query_batch,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    qvs = [
        [float(v) for v in r.embedding]
        for r in sorted(
            emb.where(F.col("vec_id") < 5).collect(), key=lambda r: r.vec_id
        )
    ]
    exact = topk_to_query_batch(emb, qvs, k=10).collect()
    exact_sets = {
        qi: {r.vec_id for r in exact if r.query_id == qi} for qi in range(5)
    }

    def mean_recall(m: int) -> float:
        cb = pq_train(emb, m=m, ksub=16)
        got = pq_search_batch(pq_encode(emb, cb), cb, qvs, k=10).collect()
        gs = {qi: {r.vec_id for r in got if r.query_id == qi} for qi in range(5)}
        assert all(qi in gs[qi] for qi in range(5))  # self-hit
        return sum(len(gs[qi] & exact_sets[qi]) for qi in range(5)) / 50

    r16 = mean_recall(16)
    r32 = mean_recall(32)
    # measured 0.54 / 0.76 at sf0.01; floors set with margin
    assert r16 >= 0.3, r16
    assert r32 >= r16, (r32, r16)


def test_pq_composes_with_ivf(spark):
    """IVF-PQ: encode an ivf_index-assigned relation keeping list_id,
    filter to the probed lists, ADC-search the survivors — candidates
    only from probed lists, self-hit whenever the query's own list is
    probed."""
    import numpy as np

    from os_ex_3_map_reduce_spark.operators import (
        ivf_index,
        pq_encode,
        pq_search_batch,
        pq_train,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    qvs = [
        [float(v) for v in r.embedding]
        for r in sorted(
            emb.where(F.col("vec_id") < 3).collect(), key=lambda r: r.vec_id
        )
    ]
    assigned, centroids = ivf_index(emb, nlist=16, trainer="sample")
    codes = pq_encode(assigned, pq_train(emb, m=16, ksub=16),
                      emb_col="e", keep_cols=["list_id"])
    cb = pq_train(emb, m=16, ksub=16)

    # probe the union of every query's top-4 lists (batch union shape)
    Q = np.stack([np.asarray(q) / np.linalg.norm(q) for q in qvs])
    scores = Q @ centroids.T - 0.5 * (centroids * centroids).sum(axis=1)
    probe = sorted({int(i) for row in scores for i in np.argsort(-row)[:4]})
    pruned = codes.where(F.col("list_id").isin(probe))

    got = pq_search_batch(pruned, cb, qvs, k=5).collect()
    got_ids = {r.vec_id for r in got}
    probed_ids = {r.vec_id for r in pruned.select("vec_id").collect()}
    assert got_ids <= probed_ids
    own_list = {
        qi: int(np.argmax(scores[qi])) for qi in range(3)
    }
    for qi in range(3):
        if own_list[qi] in probe:
            assert qi in {r.vec_id for r in got if r.query_id == qi}


def test_pq_guards(spark):
    """Dim divisibility, empty/zero-norm queries, zero-norm corpus
    rows: loud errors or deterministic routing, never NaN poisoning."""
    import pandas as pd

    from os_ex_3_map_reduce_spark.operators import (
        pq_encode,
        pq_search_batch,
        pq_train,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    with pytest.raises(ValueError, match="not divisible"):
        pq_train(emb, m=7)
    cb = pq_train(emb, m=16, ksub=16)
    with pytest.raises(ValueError, match="empty query batch"):
        pq_search_batch(pq_encode(emb, cb), cb, [], k=5)
    with pytest.raises(ValueError, match="zero-norm"):
        pq_search_batch(pq_encode(emb, cb), cb, [[0.0] * 64], k=5)
    # zero-norm corpus row encodes deterministically (no NaN)
    zero = spark.createDataFrame(
        pd.DataFrame({"vec_id": [999999], "embedding": [[0.0] * 64]})
    )
    row = pq_encode(zero, cb).collect()[0]
    assert len(row.code) == 16 and all(0 <= c < 16 for c in row.code)


def test_ivf_append_equals_rebuild_and_still_prunes(spark, tmp_path):
    """Incremental index maintenance (VERDICT r9 #2): with FIXED
    centroids, write(base) + append(delta) must produce identical index
    CONTENT to write(base ∪ delta); searches against the appended index
    must equal searches against the rebuilt one; and the probe must
    still PRUNE at the scan after the append (new files land inside
    existing list_id= partition directories). Also round-trips the
    persisted quantizer (save_centroids/load_centroids bit-exact)."""
    import numpy as np

    from os_ex_3_map_reduce_spark.operators import (
        ivf_append,
        ivf_assign,
        ivf_search_indexed,
        ivf_write,
        load_centroids,
        save_centroids,
        train_centroids_sample,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    base = emb.where(F.col("vec_id") % 2 == 0)
    delta = emb.where(F.col("vec_id") % 2 == 1)

    # quantizer trained on the BASE only — the append must not retrain
    centroids = train_centroids_sample(base, nlist=16)
    cpath = str(tmp_path / "centroids")
    save_centroids(spark, centroids, cpath)
    loaded = load_centroids(spark, cpath)
    assert loaded.shape == centroids.shape
    assert np.array_equal(loaded, centroids)  # bit-exact round trip

    apath = str(tmp_path / "ivf_appended")
    rpath = str(tmp_path / "ivf_rebuilt")
    ivf_write(ivf_assign(base, loaded), apath)
    ivf_append(delta, apath, loaded)
    ivf_write(ivf_assign(emb, loaded), rpath)

    # content equivalence: same (vec_id, list_id) relation row-for-row
    key = lambda r: (r.vec_id, r.list_id)
    got = sorted(spark.read.parquet(apath).select("vec_id", "list_id").collect(), key=key)
    want = sorted(spark.read.parquet(rpath).select("vec_id", "list_id").collect(), key=key)
    assert got == want and len(got) == emb.count()

    # search equivalence through the written indexes
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    res_a = ivf_search_indexed(spark, apath, loaded, qv, k=10, nprobe=4)
    res_r = ivf_search_indexed(spark, rpath, loaded, qv, k=10, nprobe=4)
    rows_a = sorted(map(tuple, res_a.collect()))
    assert rows_a == sorted(map(tuple, res_r.collect())) and len(rows_a) == 10

    # pruning survives the append: executed-plan numFiles strictly below
    # the full listing, and the filter is a partition filter
    def scanned_files(df):
        plan = df._jdf.queryExecution().executedPlan()
        plan.executeCollect()

        def find_scan(node):
            if node.metrics().contains("numFiles"):
                return node
            if node.nodeName() == "AdaptiveSparkPlan":
                return find_scan(node.executedPlan())
            if "QueryStage" in node.getClass().getSimpleName():
                return find_scan(node.plan())
            kids = node.children()
            for i in range(kids.length()):
                found = find_scan(kids.apply(i))
                if found is not None:
                    return found
            return None

        scan = find_scan(plan)
        assert scan is not None, "no scan with numFiles metric"
        return int(scan.metrics().apply("numFiles").value())

    n_all = scanned_files(spark.read.parquet(apath))
    n_probed = scanned_files(res_a)
    assert 0 < n_probed < n_all, (n_probed, n_all)
    assert "PartitionFilters: [list_id" in res_a._jdf.queryExecution().executedPlan().toString()

    # append is per-delta re-runnable: a second append only adds its own
    # rows (no global rewrite) — row count grows by exactly the delta
    extra = spark.createDataFrame(
        [(10_000_000, [0.5] * len(qv))], "vec_id long, embedding array<double>"
    )
    ivf_append(extra, apath, loaded)
    assert spark.read.parquet(apath).count() == len(got) + 1


def test_cc_star_contraction_matches_minlabel_and_beats_it_on_depth(spark):
    """Star-contraction CC (VERDICT r9 #7): must produce byte-identical
    (id, label) to the min-label iterate on the fixture's near-dup
    graph, AND converge in O(log d) rounds where min-label needs O(d) —
    shown on a depth-64 path graph, where min-label at 10 rounds is
    still wrong but star contraction has long converged."""
    from os_ex_3_map_reduce_spark.operators.dedup import connected_components
    from os_ex_3_map_reduce_spark.operators.graph import (
        connected_components_star_eager,
    )

    # equivalence on the real near-dup graph (shallow components)
    docs = load_table(spark, SF_CORRECT, "documents")
    pairs = minhash_lsh_pairs(docs, threshold=0.5).select("doc_a", "doc_b")
    want = sorted(
        (r.id, r.label) for r in connected_components(pairs, "doc_a", "doc_b").collect()
    )
    star = connected_components_star_eager(pairs, "doc_a", "doc_b")
    got = sorted((r.id, r.label) for r in star.collect())
    assert got == want and len(got) > 0

    # depth: path 0-1-2-...-64 (single component, diameter 64)
    path_edges = spark.createDataFrame(
        [(i, i + 1) for i in range(64)], "src long, dst long"
    )
    deep = connected_components_star_eager(path_edges, max_rounds=25)
    assert sorted((r.id, r.label) for r in deep.collect()) == [
        (i, 0) for i in range(65)
    ]
    star_rounds = deep._osx3_rounds
    assert star_rounds <= 8, star_rounds  # O(log d), not O(d)

    # min-label capped at the SAME round budget is still unconverged —
    # the concrete cost of O(diameter) on a deep graph
    ml = connected_components(path_edges, max_iter=star_rounds)
    assert sorted((r.id, r.label) for r in ml.collect()) != [
        (i, 0) for i in range(65)
    ]


def test_pq_append_equals_rebuild_with_persisted_codebooks(spark, tmp_path):
    """The PQ half of incremental index maintenance (VERDICT r9 #2):
    save_codebooks/load_codebooks must round-trip bit-exact; with FIXED
    codebooks, pq_write(base) + pq_append(delta) must produce identical
    codes to pq_write(base ∪ delta); ADC search over the appended codes
    must equal search over the rebuilt ones; and the IVF-PQ composition
    (codes carrying list_id) keeps its partitioned layout across the
    append so probed-list pruning still lands on the scan."""
    import numpy as np

    from os_ex_3_map_reduce_spark.operators import (
        ivf_assign,
        load_codebooks,
        pq_append,
        pq_encode,
        pq_search_batch,
        pq_train,
        pq_write,
        save_codebooks,
        train_centroids_sample,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    base = emb.where(F.col("vec_id") % 2 == 0)
    delta = emb.where(F.col("vec_id") % 2 == 1)

    cb = pq_train(base, m=16, ksub=16)
    cpath = str(tmp_path / "codebooks")
    save_codebooks(spark, cb, cpath)
    loaded = load_codebooks(spark, cpath)
    assert loaded.shape == cb.shape and np.array_equal(loaded, cb)

    # plain PQ: append == rebuild, code-for-code
    apath = str(tmp_path / "codes_appended")
    rpath = str(tmp_path / "codes_rebuilt")
    pq_write(pq_encode(base, loaded), apath)
    pq_append(delta, apath, loaded)
    pq_write(pq_encode(emb, loaded), rpath)
    key = lambda r: r.vec_id
    got = sorted(
        ((r.vec_id, tuple(r.code)) for r in spark.read.parquet(apath).collect())
    )
    want = sorted(
        ((r.vec_id, tuple(r.code)) for r in spark.read.parquet(rpath).collect())
    )
    assert got == want and len(got) == emb.count()

    # ADC search equivalence through the written relations
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    res_a = pq_search_batch(spark.read.parquet(apath), loaded, [qv], k=10)
    res_r = pq_search_batch(spark.read.parquet(rpath), loaded, [qv], k=10)
    rows_a = sorted(map(tuple, res_a.collect()))
    assert rows_a == sorted(map(tuple, res_r.collect())) and len(rows_a) == 10

    # IVF-PQ composition: list_id-partitioned codes, append lands inside
    # existing partitions, probe filter prunes at the scan
    cents = train_centroids_sample(base, nlist=16)
    ivfpq_path = str(tmp_path / "ivfpq_codes")
    base_codes = pq_encode(
        ivf_assign(base, cents).withColumnRenamed("e", "embedding"),
        loaded,
        emb_col="embedding",
        keep_cols=["list_id"],
    )
    pq_write(base_codes, ivfpq_path)
    delta_assigned = ivf_assign(delta, cents).withColumnRenamed("e", "embedding")
    pq_append(delta_assigned, ivfpq_path, loaded, keep_cols=["list_id"])
    codes = spark.read.parquet(ivfpq_path)
    assert codes.count() == emb.count()
    probed = codes.where(F.col("list_id").isin([0, 1, 2, 3]))
    plan_str = probed._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters: [list_id" in plan_str
    # pruned ADC search over probed lists matches the full-scan search
    # restricted to those lists (the IVF-PQ contract)
    full = pq_search_batch(
        codes.where(F.col("list_id").isin([0, 1, 2, 3])), loaded, [qv], k=5
    )
    assert len(full.collect()) == 5


def test_ivfpq_batch_matches_per_query_composition_and_prunes(spark, tmp_path):
    """The fused IVF-PQ batch kernel must return, for each query,
    exactly what the manual composition returns (ADC search restricted
    to that query's probed lists) — and against a written
    list_id-partitioned codes layout the union-of-probes filter must
    prune at the scan (numFiles strictly below the full listing)."""
    from os_ex_3_map_reduce_spark.operators import (
        ivf_assign,
        pq_encode,
        pq_search_batch,
        pq_train,
        pq_write,
        train_centroids_sample,
    )
    from os_ex_3_map_reduce_spark.operators.pq import ivfpq_search_batch
    from os_ex_3_map_reduce_spark.operators.similarity import _batch_probe_plan

    emb = load_table(spark, SF_CORRECT, "embeddings")
    cents = train_centroids_sample(emb, nlist=16)
    cb = pq_train(emb, m=16, ksub=16)
    codes = pq_encode(
        ivf_assign(emb, cents).withColumnRenamed("e", "embedding"),
        cb,
        keep_cols=["list_id"],
    ).persist()
    qvs = [
        [float(x) for x in r.embedding]
        for r in sorted(
            emb.where(F.col("vec_id") < 3).collect(), key=lambda r: r.vec_id
        )
    ]
    got = ivfpq_search_batch(codes, cb, cents, qvs, k=5, nprobe=4)
    got_rows = sorted(map(tuple, got.collect()))
    assert len(got_rows) == 15
    _, probes, _ = _batch_probe_plan(cents, qvs, 4)
    want = []
    for qi, qv in enumerate(qvs):
        per = pq_search_batch(
            codes.where(F.col("list_id").isin(probes[qi])), cb, [qv], k=5
        )
        want.extend(
            (qi, r.vec_id, r.adc_score, r.rank) for r in per.collect()
        )
    assert got_rows == sorted(want)
    codes.unpersist()

    # written layout: probe filter prunes at the scan
    path = str(tmp_path / "ivfpq_idx")
    pq_write(
        pq_encode(
            ivf_assign(emb, cents).withColumnRenamed("e", "embedding"),
            cb,
            keep_cols=["list_id"],
        ),
        path,
    )
    idx = spark.read.parquet(path)
    res = ivfpq_search_batch(idx, cb, cents, qvs, k=5, nprobe=4)
    assert sorted(map(tuple, res.collect())) == got_rows

    def scanned_files(df):
        plan = df._jdf.queryExecution().executedPlan()
        plan.executeCollect()

        def find_scan(node):
            if node.metrics().contains("numFiles"):
                return node
            if node.nodeName() == "AdaptiveSparkPlan":
                return find_scan(node.executedPlan())
            if "QueryStage" in node.getClass().getSimpleName():
                return find_scan(node.plan())
            kids = node.children()
            for i in range(kids.length()):
                found = find_scan(kids.apply(i))
                if found is not None:
                    return found
            return None

        scan = find_scan(plan)
        assert scan is not None
        return int(scan.metrics().apply("numFiles").value())

    n_all = scanned_files(idx)
    n_probed = scanned_files(res)
    assert 0 < n_probed < n_all, (n_probed, n_all)
    assert "PartitionFilters: [list_id" in res._jdf.queryExecution().executedPlan().toString()


def test_minhash_index_lookup_matches_allpairs_and_append_grows(spark, tmp_path):
    """Dedup-at-ingest (the E2 analog of the ANN index-maintenance
    story): a delta batch looked up against a WRITTEN corpus index must
    find exactly the cross-side pairs the all-pairs run finds (shared
    band-bucket construction ⇒ identical candidate generation, modulo
    the write-time hot-bucket cap — inactive on this fixture); corpus
    text is never re-shingled at lookup. Appending a second delta must
    make its docs visible to subsequent lookups without recomputing the
    corpus."""
    from os_ex_3_map_reduce_spark.operators import (
        minhash_index_append,
        minhash_index_lookup,
        minhash_index_write,
        minhash_lsh_pairs,
    )

    docs = load_table(spark, SF_CORRECT, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    delta = docs.where(F.col("doc_id") % 2 == 1)

    path = str(tmp_path / "neardup_idx")
    minhash_index_write(corpus, path)
    got = {
        (r.new_doc, r.corpus_doc, r.inter, r.union_, r.jaccard)
        for r in minhash_index_lookup(delta, path, threshold=0.5).collect()
    }
    # oracle: the all-pairs run over the full table, restricted to
    # cross-parity pairs, reoriented (new=odd, corpus=even)
    allp = minhash_lsh_pairs(docs, threshold=0.5).collect()
    want = set()
    for r in allp:
        pa, pb = r.doc_a % 2, r.doc_b % 2
        if pa == pb:
            continue
        new, cor = (r.doc_a, r.doc_b) if pa == 1 else (r.doc_b, r.doc_a)
        want.add((new, cor, r.inter, r.union_, r.jaccard))
    assert want, "fixture should contain cross-parity near-dup pairs"
    assert got == want

    # append: a second delta (copies of two corpus docs with new ids)
    # becomes findable without re-writing the corpus
    src = corpus.orderBy("doc_id").limit(2).collect()
    clones = spark.createDataFrame(
        [(int(r.doc_id) + 10_000_000, r.text) for r in src],
        "doc_id long, text string",
    )
    minhash_index_append(clones, path)
    probe = {
        (r.new_doc, r.corpus_doc)
        for r in minhash_index_lookup(
            clones.withColumn("doc_id", F.col("doc_id") + 20_000_000),
            path,
            threshold=0.99,
        ).collect()
    }
    # each re-cloned doc matches BOTH its original (in the base index)
    # and its first clone (appended) at jaccard 1.0
    for r in src:
        assert (int(r.doc_id) + 30_000_000, int(r.doc_id)) in probe
        assert (int(r.doc_id) + 30_000_000, int(r.doc_id) + 10_000_000) in probe


def test_residual_ivfpq_beats_plain_pq_recall(spark):
    """The faiss-IVFPQ residual construction (pq_train_residual +
    pq_encode_residual + ivfpq_search_batch(residual=True)) must not
    lose recall vs plain-PQ codes over the same probed lists, and must
    strictly improve somewhere — residuals concentrate near the origin,
    so the shared codebooks quantize them with less error. Measured
    recall@10 over 3 queries: sf0.001 0.467→0.567, sf0.01 0.50→0.50,
    sf0.1 0.233→0.333 (plain→residual)."""
    from os_ex_3_map_reduce_spark.operators.pq import (
        ivfpq_search_batch,
        pq_encode,
        pq_encode_residual,
        pq_train,
        pq_train_residual,
    )
    from os_ex_3_map_reduce_spark.operators.similarity import (
        ivf_assign,
        topk_to_query_batch,
        train_centroids_sample,
    )

    gains = []
    for sf in ("/root/testdata/sf0.001", SF_CORRECT):
        emb = load_table(spark, sf, "embeddings")
        qvs = [
            [float(x) for x in r.embedding]
            for r in sorted(
                emb.where(F.col("vec_id") < 3).collect(), key=lambda r: r.vec_id
            )
        ]
        cents = train_centroids_sample(emb, nlist=16)
        assigned = ivf_assign(emb, cents).persist()
        assigned.count()
        named = assigned.withColumnRenamed("e", "embedding")
        cb_p = pq_train(emb, m=16, ksub=16)
        cb_r = pq_train_residual(emb, cents, m=16, ksub=16)
        codes_p = pq_encode(named, cb_p, keep_cols=["list_id"])
        codes_r = pq_encode_residual(assigned, cents, cb_r)
        ex = {
            (r.query_id, r.vec_id)
            for r in topk_to_query_batch(emb, qvs, k=10).collect()
        }

        def recall(res):
            return len({(r.query_id, r.vec_id) for r in res.collect()} & ex)

        plain = recall(ivfpq_search_batch(codes_p, cb_p, cents, qvs, k=10, nprobe=4))
        resid = recall(
            ivfpq_search_batch(
                codes_r, cb_r, cents, qvs, k=10, nprobe=4, residual=True
            )
        )
        assigned.unpersist()
        assert resid >= plain, (sf, resid, plain)
        gains.append(resid - plain)
    assert any(g > 0 for g in gains), gains


def test_kcore_peels_layer_by_layer_and_keeps_cycles(spark):
    """kcore semantics on shapes with known cores: a path has an EMPTY
    2-core (endpoints peel one layer per round, inward — the deep-peel
    case bounded by max_rounds), while a cycle IS its own 2-core
    (nothing peels, convergence in one round); a cycle with a pendant
    tail keeps exactly the cycle."""
    from os_ex_3_map_reduce_spark.operators.graph import kcore_eager

    path = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "src long, dst long"
    )
    assert kcore_eager(path, k=2).count() == 0

    cycle = spark.createDataFrame(
        [(i, (i + 1) % 8) for i in range(8)], "src long, dst long"
    )
    got = {(r.node, r.deg) for r in kcore_eager(cycle, k=2).collect()}
    assert got == {(i, 2) for i in range(8)}

    # cycle 0..7 plus tail 7-100-101: tail peels, cycle survives intact
    tailed = spark.createDataFrame(
        [(i, (i + 1) % 8) for i in range(8)] + [(7, 100), (100, 101)],
        "src long, dst long",
    )
    got2 = {(r.node, r.deg) for r in kcore_eager(tailed, k=2).collect()}
    assert got2 == {(i, 2) for i in range(8)}


def test_round10_operators_degenerate_inputs(spark, tmp_path):
    """Degenerate-input behavior of the round-10 operators: loud errors
    or well-defined empties, never crashes or NaN poisoning."""
    import numpy as np

    from os_ex_3_map_reduce_spark.operators import (
        ivf_append,
        ivf_assign,
        minhash_index_lookup,
        minhash_index_write,
        train_centroids_sample,
    )
    from os_ex_3_map_reduce_spark.operators.graph import (
        connected_components_star_eager,
        kcore_eager,
    )

    # kcore: k=1 keeps every non-isolated vertex; k above max degree
    # empties; an empty edge list yields an empty core
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(5)], "src long, dst long"
    )
    assert kcore_eager(path, k=1).count() == 6
    assert kcore_eager(path, k=3).count() == 0
    empty_edges = spark.createDataFrame([], "src long, dst long")
    assert kcore_eager(empty_edges, k=2).count() == 0
    # star CC on an empty edge list: empty labeling, no crash
    assert connected_components_star_eager(empty_edges).count() == 0

    # ingest lookup: a delta whose docs are too short to shingle (< 3
    # tokens) produces an empty, schema-stable match set
    docs = load_table(spark, SF_CORRECT, "documents")
    idx = str(tmp_path / "idx")
    minhash_index_write(docs.limit(50), idx)
    shorts = spark.createDataFrame(
        [(1_000_001, "one two"), (1_000_002, "")], "doc_id long, text string"
    )
    out = minhash_index_lookup(shorts, idx, threshold=0.5)
    assert out.columns == ["new_doc", "corpus_doc", "inter", "union_", "jaccard"]
    assert out.count() == 0
    out._osx3_sigs.unpersist()

    # ivf_append of an EMPTY delta: a no-op, index content unchanged
    emb = load_table(spark, SF_CORRECT, "embeddings")
    cents = train_centroids_sample(emb, nlist=16)
    ipath = str(tmp_path / "ivf")
    ivf_assign(emb, cents).repartition("list_id").write.partitionBy(
        "list_id"
    ).parquet(ipath)
    n0 = spark.read.parquet(ipath).count()
    ivf_append(emb.where(F.col("vec_id") < 0), ipath, cents)
    assert spark.read.parquet(ipath).count() == n0


def test_index_compaction_restores_caps_and_file_layout(spark, tmp_path):
    """The two compaction maintenance ops (turning the docstrings'
    'fixed at the next rewrite' promises into runnable passes):

    - minhash_index_compact re-applies the GLOBAL hot-bucket cap that
      appends only apply per-batch: a bucket grown hot across appends
      is dropped, and lookups afterwards stop paying its quadratic
      candidates while every legitimate match survives.
    - ivf_index_compact rewrites appended list fragments back to one
      file per list without changing a row; searches are identical
      before and after."""
    from os_ex_3_map_reduce_spark.operators import (
        ivf_append,
        ivf_assign,
        ivf_search_indexed,
        ivf_write,
        minhash_index_append,
        minhash_index_lookup,
        minhash_index_write,
        train_centroids_sample,
    )
    from os_ex_3_map_reduce_spark.operators.dedup import minhash_index_compact
    from os_ex_3_map_reduce_spark.operators.similarity import ivf_index_compact

    docs = load_table(spark, SF_CORRECT, "documents")
    corpus = docs.where(F.col("doc_id") % 2 == 0)
    delta = docs.where(F.col("doc_id") % 2 == 1)
    idx = str(tmp_path / "nd_idx")
    minhash_index_write(corpus, idx, max_bucket=50)
    # grow one bucket hot through appends: many boilerplate copies of
    # one corpus doc (cap 50; 3 appends x 20 copies crosses it)
    boiler = corpus.orderBy("doc_id").limit(1).first()
    for j in range(3):
        clones = spark.createDataFrame(
            [
                (10_000_000 + j * 100 + i, boiler.text)
                for i in range(20)
            ],
            "doc_id long, text string",
        )
        minhash_index_append(clones, idx)
    pre = minhash_index_lookup(delta, idx, threshold=0.5)
    pre_rows = {(r.new_doc, r.corpus_doc) for r in pre.collect()}
    pre._osx3_sigs.unpersist()
    stats = minhash_index_compact(spark, idx, max_bucket=50)
    assert stats["hot_buckets_dropped"] > 0, stats
    assert stats["bucket_rows_after"] < stats["bucket_rows_before"]
    post = minhash_index_lookup(delta, idx, threshold=0.5)
    post_rows = {(r.new_doc, r.corpus_doc) for r in post.collect()}
    post._osx3_sigs.unpersist()
    # real (non-boilerplate) matches all survive the cap re-application
    real_pre = {p for p in pre_rows if p[1] < 10_000_000}
    real_post = {p for p in post_rows if p[1] < 10_000_000}
    assert real_post == real_pre and real_post

    # IVF: appends fragment the layout; compaction restores 1 file/list
    emb = load_table(spark, SF_CORRECT, "embeddings")
    cents = train_centroids_sample(emb, nlist=16)
    ipath = str(tmp_path / "ivf_idx")
    ivf_write(ivf_assign(emb.where(F.col("vec_id") % 3 == 0), cents), ipath)
    ivf_append(emb.where(F.col("vec_id") % 3 == 1), ipath, cents)
    ivf_append(emb.where(F.col("vec_id") % 3 == 2), ipath, cents)
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first()["embedding"]]
    before = sorted(
        map(tuple, ivf_search_indexed(spark, ipath, cents, qv, k=10).collect())
    )
    stats2 = ivf_index_compact(spark, ipath)
    assert stats2["files_after"] < stats2["files_before"], stats2
    assert stats2["files_after"] <= 16
    after = sorted(
        map(tuple, ivf_search_indexed(spark, ipath, cents, qv, k=10).collect())
    )
    assert after == before
    assert spark.read.parquet(ipath).count() == stats2["rows"]

    # swap hygiene (ADVICE r10): a second compaction with a STALE
    # .compact_old leftover (what a crash between the two renames
    # leaves) must clear it, swap cleanly, and leave no stage dirs
    import os as _os
    import pathlib as _pl

    _os.makedirs(f"{ipath}.compact_old/list_id=0", exist_ok=True)
    stats3 = ivf_index_compact(spark, ipath)
    assert not _os.path.exists(f"{ipath}.compact_old")
    assert stats3["rows"] == stats2["rows"]
    parent = _pl.Path(ipath).parent
    assert not list(parent.glob("_ivf_compact_*")), list(parent.iterdir())
    again = sorted(
        map(tuple, ivf_search_indexed(spark, ipath, cents, qv, k=10).collect())
    )
    assert again == before


def test_core_numbers_match_independent_peel(spark):
    """The h-index-fixpoint core numbers must equal an INDEPENDENT
    peel-based coreness computation (the defining algorithm) on the
    real fixture graph, and be consistent with the fixed-k kcore
    operator: {node : core(node) >= k} is exactly the k-core."""
    import collections

    from os_ex_3_map_reduce_spark.operators.graph import (
        core_numbers_eager,
        kcore_eager,
    )
    from os_ex_3_map_reduce_spark.plans.graph_queries import _bipartite_edges

    edges_df = _bipartite_edges(spark, SF_CORRECT).persist()
    got = {r.node: r.core for r in core_numbers_eager(edges_df).collect()}

    # independent reference: textbook min-degree peel
    adj = collections.defaultdict(set)
    for r in edges_df.collect():
        adj[r.src].add(r.dst)
    deg = {n: len(adj[n]) for n in adj}
    core: dict = {}
    alive = set(adj)
    k = 0
    while alive:
        k = max(k, min(deg[n] for n in alive))
        peel = [n for n in alive if deg[n] <= k]
        while peel:
            n = peel.pop()
            if n not in alive:
                continue
            core[n] = k
            alive.discard(n)
            for m in adj[n]:
                if m in alive:
                    deg[m] -= 1
                    if deg[m] <= k:
                        peel.append(m)
    assert got == core

    # consistency with the fixed-k operator
    kc = {r.node for r in kcore_eager(edges_df, k=8).collect()}
    assert kc == {n for n, c in got.items() if c >= 8}
    edges_df.unpersist()

    # shapes: a path's coreness is 1 everywhere; a cycle's is 2
    path = spark.createDataFrame(
        [(i, i + 1) for i in range(6)], "src long, dst long"
    )
    assert {r.core for r in core_numbers_eager(path).collect()} == {1}
    cycle = spark.createDataFrame(
        [(i, (i + 1) % 6) for i in range(6)], "src long, dst long"
    )
    assert {r.core for r in core_numbers_eager(cycle).collect()} == {2}


def test_range_search_matches_numpy_and_ivf_is_subset(spark):
    """Range search (the faiss range_search analog) checked against an
    INDEPENDENT numpy oracle on seeded random data — including a
    duplicate vector, a zero vector, and a threshold that excludes
    most pairs. The IVF range result must be a SUBSET of the brute
    result with identical scores (probing only prunes, never invents
    or rescores), and the guards must reject degenerate query input."""
    import numpy as np

    from os_ex_3_map_reduce_spark.operators import (
        ivf_index,
        ivf_range_search_batch,
        range_search_batch,
        round_half_away,
    )

    rng = np.random.RandomState(11)
    n, d = 80, 8
    X = rng.randn(n, d)
    X[5] = X[3]  # duplicate vector
    X[9] = 0.0  # zero vector: scores 0.0 everywhere, below any tau > 0
    emb = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    qvs = [[float(v) for v in X[0]], [float(v) for v in X[17]]]
    tau = 0.3

    # independent numpy oracle: rounded half-away BEFORE the threshold
    norms = np.linalg.norm(X, axis=1, keepdims=True)
    Xn = X / np.where(norms > 0, norms, 1.0)
    Q = np.stack([np.asarray(q) for q in qvs])
    Qn = Q / np.linalg.norm(Q, axis=1, keepdims=True)
    S = round_half_away(Xn @ Qn.T, 4)
    expected = sorted(
        (qi, vid, S[vid, qi])
        for qi in range(len(qvs))
        for vid in range(n)
        if S[vid, qi] >= tau
    )
    assert len(expected) > 4  # non-vacuous
    got = sorted(
        map(tuple, range_search_batch(emb, qvs, threshold=tau).collect())
    )
    assert got == expected

    # IVF range: subset with identical scores, and completeness is
    # honest (probing 4/4 lists == brute by construction)
    assigned, cents = ivf_index(emb, nlist=4, trainer="sample")
    assigned = assigned.persist()
    ivf_rows = sorted(
        map(
            tuple,
            ivf_range_search_batch(
                assigned, cents, qvs, threshold=tau, nprobe=2
            ).collect(),
        )
    )
    assert set(ivf_rows) <= set(expected)
    full_probe = sorted(
        map(
            tuple,
            ivf_range_search_batch(
                assigned, cents, qvs, threshold=tau, nprobe=4
            ).collect(),
        )
    )
    assert full_probe == expected
    assigned.unpersist()

    with pytest.raises(ValueError, match="empty query batch"):
        range_search_batch(emb, [], threshold=tau)
    with pytest.raises(ValueError, match="zero-norm"):
        range_search_batch(emb, [[0.0] * d], threshold=tau)


def test_kmeans_lloyd_matches_independent_oracle(spark):
    """Distributed Lloyd vs an INDEPENDENT pure-python replay of the
    integer-grid trajectory (quantize -> assign -> rounded mean ->
    repeat) on seeded random blobs — centroids AND summary must match
    exactly. Includes a DUPLICATE seed pair (vec 0 == vec 1), so
    cluster 1 is empty from the first assignment and the
    keep-previous-centroid rule is actually exercised."""
    import numpy as np

    from os_ex_3_map_reduce_spark.operators import kmeans_lloyd

    rng = np.random.RandomState(3)
    k, d, n = 4, 6, 120
    blob_centers = rng.randn(k, d) * 3
    X = np.concatenate(
        [blob_centers[i] + 0.4 * rng.randn(n // k, d) for i in range(k)]
    )
    X[1] = X[0]  # duplicate seed: cluster 1 starves immediately
    emb = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(len(X))],
        "vec_id long, embedding array<double>",
    )

    def fix(a):
        s = a * 1e6
        return (np.sign(s) * np.floor(np.abs(s) + 0.5)).astype(np.int64)

    P = fix(X)
    C = P[:k].copy()
    for _ in range(2):
        dists = ((P[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
        a = dists.argmin(axis=1)
        newC = C.copy()
        for j in range(k):
            m = P[a == j]
            if len(m):
                q = m.sum(axis=0) / len(m)
                newC[j] = (np.sign(q) * np.floor(np.abs(q) + 0.5)).astype(
                    np.int64
                )
        C = newC
    dists = ((P[:, None, :] - C[None, :, :]) ** 2).sum(axis=2)
    a = dists.argmin(axis=1)
    expect = {
        int(j): (
            int((a == j).sum()),
            int(dists[a == j, j].sum()),
            int(C[j].sum()),
        )
        for j in range(k)
        if (a == j).sum()
    }
    # the duplicate seed ties every point to cluster 0 in the first
    # assignment, so cluster 1 is empty there and the keep-previous
    # rule must hold its centroid at the seed through update 1
    c1_after_one, _ = kmeans_lloyd(emb, k=k, updates=1)
    assert np.array_equal(c1_after_one[1], P[1])
    assert not np.array_equal(c1_after_one[0], P[0])  # cluster 0 moved

    cents, summary = kmeans_lloyd(emb, k=k, updates=2)
    assert np.array_equal(cents, C)
    got = {
        int(r.cluster_id): (int(r.n_points), int(r.sum_dist), int(r.cent_sum))
        for r in summary.collect()
    }
    assert got == expect

    # more updates must improve the clustering on blob data
    _, s0 = kmeans_lloyd(emb, k=k, updates=0)
    d0 = sum(r.sum_dist for r in s0.collect())
    d2 = sum(v[1] for v in got.values())
    assert d2 < d0

    with pytest.raises(ValueError, match="no seed vectors"):
        kmeans_lloyd(emb.where(F.col("vec_id") >= 100), k=k)


def test_kmeans_lloyd_invariant_under_partitioning(spark):
    """The catalog query's exactness claim: the full 2-update
    trajectory is identical under shuffle.partitions 32/7/13 AND
    input repartitioning — integer partial sums are associative, so
    batch/partition boundaries cannot move a centroid."""
    from os_ex_3_map_reduce_spark.operators import kmeans_lloyd
    from os_ex_3_map_reduce_spark.sources.tables import load_table

    emb = load_table(spark, SF_CORRECT, "embeddings")
    draws = []
    for parts, rep in (("32", 1), ("7", 5), ("13", 3)):
        old = spark.conf.get("spark.sql.shuffle.partitions")
        spark.conf.set("spark.sql.shuffle.partitions", parts)
        try:
            cents, summary = kmeans_lloyd(
                emb.repartition(rep), k=8, updates=2
            )
            draws.append(
                (cents.tolist(), sorted(map(tuple, summary.collect())))
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", old)
    assert draws[0] == draws[1] == draws[2]


def test_bpe_train_matches_reference_implementation(spark):
    """bpe_train vs an INDEPENDENT in-memory reference BPE (the
    Sennrich get_stats/merge loop over a word-frequency dict) on the
    sf0.001 documents corpus — the full 8-step merge trajectory
    (pairs, counts, order) must match exactly. Plus a hand-built
    corpus exercising overlapping occurrences ('aaaa': left-to-right
    non-overlap counts 3 but merges 2) and the early-stop case."""
    import collections
    import re

    from os_ex_3_map_reduce_spark.operators.bpe import bpe_train
    from os_ex_3_map_reduce_spark.sources.tables import load_table

    docs = load_table(spark, SF_CORRECT.replace("sf0.01", "sf0.001"), "documents")
    got = [tuple(r) for r in bpe_train(docs, num_merges=8).collect()]

    freqs = collections.Counter()
    for (text,) in docs.select("text").collect():
        for w in re.split(r"[^0-9A-Za-z]+", text):
            if w:
                freqs[w] += 1
    vocab = {tuple(w): f for w, f in freqs.items()}

    def reference_merges(vocab, n):
        out = []
        for step in range(1, n + 1):
            stats = collections.Counter()
            for syms, f in vocab.items():
                for i in range(len(syms) - 1):
                    stats[(syms[i], syms[i + 1])] += f
            if not stats:
                break
            (a, b), c = min(
                stats.items(), key=lambda kv: (-kv[1], kv[0][0], kv[0][1])
            )
            out.append((step, a, b, c, a + b))
            nxt = {}
            for syms, f in vocab.items():
                fused, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                        fused.append(a + b)
                        i += 2
                    else:
                        fused.append(syms[i])
                        i += 1
                nxt[tuple(fused)] = nxt.get(tuple(fused), 0) + f
            vocab = nxt
        return out

    assert got == reference_merges(dict(vocab), 8)

    # overlap semantics: 'aaaa' x10 — pair count is 3 per word (every
    # adjacent position), but the merge fuses left-to-right
    # non-overlapping into ('aa','aa'), so step 2 merges ('aa','aa').
    tiny = spark.createDataFrame([(1, "aaaa " * 10)], "doc_id long, text string")
    tiny_merges = [tuple(r) for r in bpe_train(tiny, num_merges=3).collect()]
    assert tiny_merges[0] == (1, "a", "a", 30, "aa")
    assert tiny_merges[1] == (2, "aa", "aa", 10, "aaaa")
    # after 'aaaa' every word is one symbol: early stop before step 3
    assert len(tiny_merges) == 2


def test_gram_matrix_and_pca_match_numpy(spark):
    """gram_matrix_int vs numpy's P.T @ P on the same quantized data
    (exact integer equality, triangle + column sums), invariance under
    repartitioning, and pca_topk vs an independent full-precision
    numpy covariance eigendecomposition of the quantized points."""
    import numpy as np

    from os_ex_3_map_reduce_spark.operators import gram_matrix_int, pca_topk

    rng = np.random.RandomState(5)
    n, d = 150, 6
    X = rng.randn(n, d) * [5, 3, 2, 1, 0.5, 0.1]  # real spectrum decay
    emb = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )

    def fix(a):
        s = a * 1e6
        return (np.sign(s) * np.floor(np.abs(s) + 0.5)).astype(np.int64)

    P = fix(X)
    G = P.T @ P
    expect = {(i + 1, j + 1): int(G[i, j]) for i in range(d) for j in range(i, d)}
    expect.update({(0, j + 1): int(P[:, j].sum()) for j in range(d)})

    got = {(r.i, r.j): r.gram for r in gram_matrix_int(emb).collect()}
    assert got == expect
    got7 = {
        (r.i, r.j): r.gram for r in gram_matrix_int(emb.repartition(7)).collect()
    }
    assert got7 == expect

    cov = np.cov(P / 1e6, rowvar=False, bias=True)
    ref = np.linalg.eigvalsh(cov)[::-1]
    rows = pca_topk(emb, k=3).collect()
    assert [r.component for r in rows] == [1, 2, 3]
    for r, ev in zip(rows, ref[:3]):
        assert abs(r.eigenvalue - ev) < 1e-3, (r, ev)
    # the planted decay must be visible: first component dominates
    assert rows[0].explained_ratio > 0.5

    with pytest.raises(ValueError, match="at least 2 rows"):
        pca_topk(emb.limit(1))


def test_sq_quantization_fidelity_and_guards(spark):
    """SQ8: (1) encode/reconstruct error per coordinate is bounded by
    half a level (width/510) on in-range data; (2) batch search over
    codes matches EXACT brute search on well-separated random data
    (8 bits/dim preserves top-k where PQ would not); (3) a constant
    dimension and out-of-range append vectors take the documented
    clip/vmin semantics; (4) degenerate query guards."""
    import numpy as np

    from os_ex_3_map_reduce_spark.operators import (
        range_search_batch,
        sq_encode,
        sq_search_batch,
        sq_train,
        topk_to_query_batch,
    )

    rng = np.random.RandomState(9)
    n, d = 120, 8
    X = rng.randn(n, d)
    X[:, 3] = 2.5  # constant dimension: width 0
    emb = spark.createDataFrame(
        [(i, [float(v) for v in X[i]]) for i in range(n)],
        "vec_id long, embedding array<double>",
    )
    params = sq_train(emb)
    assert params.shape == (2, d)
    assert params[0, 3] == params[1, 3] == 2.5
    np.testing.assert_allclose(params[0], X.min(axis=0))
    np.testing.assert_allclose(params[1], X.max(axis=0))

    codes = sq_encode(emb, params).persist()
    rows = {r.vec_id: (list(r.codes), r.recon_norm) for r in codes.collect()}
    width = params[1] - params[0]
    for i in (0, 17, 50):
        c = np.array(rows[i][0], dtype=np.float64)
        assert c.min() >= 0 and c.max() <= 255
        recon = params[0] + c * np.where(width > 0, width, 1.0) / 255.0 * (
            width > 0
        )
        recon[3] = 2.5  # constant dim reconstructs vmin
        err = np.abs(recon - X[i])
        bound = np.where(width > 0, width, 0.0) / 510.0 + 1e-12
        assert (err <= bound).all(), (i, err, bound)
        assert abs(np.linalg.norm(recon) - rows[i][1]) < 1e-9

    # search equivalence vs exact on the same data
    qvs = [[float(v) for v in X[0]], [float(v) for v in X[9]]]
    sq_rows = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in sq_search_batch(codes, params, qvs, k=3).collect()
    )
    exact_rows = sorted(
        (r.query_id, r.vec_id, r.rank)
        for r in topk_to_query_batch(emb, qvs, k=3).collect()
    )
    assert sq_rows == exact_rows

    # out-of-range append vector clips into the learned range
    extra = spark.createDataFrame(
        [(999, [float(v) for v in X.max(axis=0) * 3])],
        "vec_id long, embedding array<double>",
    )
    crow = sq_encode(extra, params).collect()[0]
    assert max(crow.codes) == 255 and min(crow.codes) >= 0

    codes.unpersist()
    import pytest as _pytest

    with _pytest.raises(ValueError, match="empty query batch"):
        sq_search_batch(codes, params, [], k=3)
    with _pytest.raises(ValueError, match="zero-norm"):
        sq_search_batch(codes, params, [[0.0] * d], k=3)
    with _pytest.raises(ValueError, match="empty training"):
        sq_train(emb.where(F.col("vec_id") < 0))


def test_semantic_dedup_decision_set_matches_numpy(spark):
    """semantic_dedup on a constructed corpus: numpy recomputes the full
    SemDeDup decision set (integer-grid cluster assignment, within-
    cluster rounded cosine >= t, min-id keeper) and the operator must
    reproduce it exactly; cross-cluster near-dups must NOT be removed."""
    import numpy as np

    from os_ex_3_map_reduce_spark.operators.dedup import semantic_dedup
    from os_ex_3_map_reduce_spark.operators.similarity import (
        _lloyd_fixpoint,
        round_half_away,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(40, 16)).astype(np.float64)
    # ids 0..3 are the seeds (k=4); make 10, 11 near-dups of 4 and 5,
    # and 12 a near-dup of the far-apart seed direction (cross-cluster
    # control is asserted from the recomputed truth below).
    base[10] = base[4] + 0.01 * rng.normal(size=16)
    base[11] = base[5] + 0.01 * rng.normal(size=16)
    base[12] = -base[4] + 0.01 * rng.normal(size=16)
    df = spark.createDataFrame(
        [(int(i), [float(x) for x in base[i]]) for i in range(len(base))],
        "vec_id long, embedding array<double>",
    ).repartition(5)

    out = semantic_dedup(df, threshold=0.9, k=4).collect()

    pts = _lloyd_fixpoint(base)
    seeds = pts[:4]
    d = (
        (pts * pts).sum(axis=1)[:, None]
        + (seeds * seeds).sum(axis=1)[None, :]
        - 2 * pts @ seeds.T
    )
    cl = d.argmin(axis=1)
    unit = base / np.linalg.norm(base, axis=1, keepdims=True)
    sims = round_half_away(unit @ unit.T, 4)
    expected = {}
    for j in range(len(base)):
        for i in range(j):
            if cl[i] == cl[j] and sims[i, j] >= 0.9:
                expected[j] = (int(cl[j]), int(i), float(sims[i, j]))
                break
    assert expected, "fixture must produce at least one removal"
    got = {r.vec_id: (r.cluster_id, r.keeper_id, r.cosine) for r in out}
    assert got == expected
    # near-dup pairs split across clusters are kept (the SemDeDup
    # approximation): every removal is within one cluster by schema.
    for vid, (c, keeper, _) in got.items():
        assert cl[vid] == c and cl[keeper] == c and keeper < vid


def test_substring_dupes_flags_planted_span_only(spark):
    """A planted 15-token span shared by three docs (one containing it
    twice) is reported with exact counts; unique-text docs contribute
    nothing; short docs (<15 tokens) are handled by the shingle guard."""
    from os_ex_3_map_reduce_spark.plans.llm import q_substring_dupes

    span = " ".join(f"w{i}" for i in range(15))
    rows = [
        (0, span + " tail0"),
        (1, "head1 " + span),
        (2, span + " mid " + span),
        (3, "totally different words " + " ".join(f"u{i}" for i in range(20))),
        (4, "short doc"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    import os_ex_3_map_reduce_spark.sources.tables as tables

    orig = tables.load_table
    try:
        tables_patch = lambda sp, sf, name: df  # noqa: E731
        import os_ex_3_map_reduce_spark.plans.llm as llm

        llm_orig = llm.load_table
        llm.load_table = tables_patch
        out = {r.span: r for r in q_substring_dupes(spark, "ignored").collect()}
    finally:
        llm.load_table = llm_orig
        tables.load_table = orig
    assert span in out
    r = out[span]
    assert (r.n_docs, r.n_occ, r.min_doc) == (3, 4, 0)
    # every reported span is a 15-gram in >= 2 docs, and since the
    # planted window is the only cross-document text, every span's
    # tokens come from it (w0..w14 plus the immediate context words)
    allowed = set(span.split(" ")) | {"tail0", "head1", "mid"}
    for s, row in out.items():
        toks = s.split(" ")
        assert len(toks) == 15 and row.n_docs >= 2
        assert set(toks) <= allowed


def test_lm_perplexity_margin_ledger_and_reference(spark, duck):
    """Two pieces of evidence for q_lm_perplexity's determinism story:
    (1) rounding-margin ledger — every distinct (cb, cu) log term at
    the verification scale sits far from a 6-decimal rounding boundary
    (so a <=2-ulp libm-vs-JVM ln disagreement can never flip a rounded
    term); (2) a numpy reference recomputes one document's score."""
    import math

    import numpy as np

    from os_ex_3_map_reduce_spark.plans import all_queries

    pairs = duck.execute(
        """
        WITH toks AS (
            SELECT doc_id,
                   list_filter(string_split(text, ' '), w -> w <> '') AS t
            FROM documents
        ),
        bg AS (
            SELECT doc_id, unnest(list_transform(
                generate_series(1, len(t) - 1),
                i -> concat_ws(' ', t[i], t[i+1]))) AS b
            FROM toks WHERE len(t) >= 2
        ),
        bc AS (SELECT b, COUNT(*) AS cb FROM bg GROUP BY b),
        pc AS (SELECT split_part(b, ' ', 1) AS w1, COUNT(*) AS cu
               FROM bg GROUP BY 1)
        SELECT DISTINCT bc.cb, pc.cu
        FROM bc JOIN pc ON split_part(bc.b, ' ', 1) = pc.w1
        """
    ).fetchall()
    terms = np.array(
        [math.log(cb) - math.log(cu) for cb, cu in pairs], dtype=np.float64
    )
    scaled = terms * 1e6
    margin = np.abs(np.abs(scaled - np.floor(scaled)) - 0.5).min()
    # libm-vs-JVM ln disagree at ~1e-16 relative (~1e-15 here, scaled
    # to ~1e-9 on the 1e6 grid); require 100x headroom over that.
    assert margin > 1e-7, f"rounding margin too small: {margin}"

    out = {
        r.doc_id: r
        for r in all_queries()["q_lm_perplexity"](
            spark, "/root/testdata/sf0.01"
        ).collect()
    }
    from collections import Counter

    text = duck.execute(
        "SELECT text FROM documents WHERE doc_id = 0"
    ).fetchone()[0]
    corpus = duck.execute("SELECT doc_id, text FROM documents").fetchall()
    big = Counter()
    pre = Counter()
    for _, t in corpus:
        ws = [w for w in t.split(" ") if w]
        for a, b in zip(ws, ws[1:]):
            big[(a, b)] += 1
            pre[a] += 1
    ws = [w for w in text.split(" ") if w]
    doc_terms = [
        round(math.log(big[(a, b)]) - math.log(pre[a]), 6)
        for a, b in zip(ws, ws[1:])
    ]
    exp_sum = round(sum(doc_terms), 6)
    got = out[0]
    assert got.n_bigrams == len(doc_terms)
    assert abs(got.sum_logprob - exp_sum) < 1e-9
    assert abs(got.avg_logprob - exp_sum / len(doc_terms)) < 1e-12
    # model sanity: probabilities, so every score is negative
    assert all(r.avg_logprob < 0 for r in out.values())


def test_bpe_encode_matches_reference_and_reconstructs(spark, duck):
    """bpe_encode_tokens against a from-scratch reference: encode every
    sf0.001 document in pure Python with the same trained rules and
    compare the FULL token histogram (not just the catalog's top-k);
    concatenating each word's tokens must reconstruct the word."""
    import re
    from collections import Counter

    from os_ex_3_map_reduce_spark.operators.bpe import (
        bpe_apply,
        bpe_encode_tokens,
        bpe_train,
    )
    from os_ex_3_map_reduce_spark.sources.tables import load_table

    sf = "/root/testdata/sf0.001"
    docs = load_table(spark, sf, "documents")
    merges = [
        (r.left, r.right)
        for r in bpe_train(docs, num_merges=8).orderBy("step").collect()
    ]
    assert len(merges) == 8

    got = Counter(
        {
            r.token: r.cnt
            for r in bpe_encode_tokens(docs, merges)
            .groupBy("token")
            .agg(F.count(F.lit(1)).alias("cnt"))
            .collect()
        }
    )

    import duckdb

    texts = duckdb.connect().execute(
        f"SELECT text FROM '{sf}/documents.parquet'"
    ).fetchall()
    ref = Counter()
    for (t,) in texts:
        for w in re.findall(r"[0-9A-Za-z]+|[^0-9A-Za-z\s]+", t):
            toks = bpe_apply(list(w), merges)
            assert "".join(toks) == w  # lossless
            ref.update(toks)
    assert got == ref


def test_rerank_recall_never_below_adc_and_fixes_quantization(spark):
    """Two-stage retrieval contract (rerank_exact): re-ranking the
    coarse stage's top-C candidates with exact cosines must never
    lose recall@5 vs taking the ADC top-5 directly (the refined top-5
    is chosen from a superset that CONTAINS the ADC top-5, scored
    exactly), and every refined score must equal the independently
    computed exact cosine for that (query, vec) pair."""
    from os_ex_3_map_reduce_spark.operators.pq import (
        ivfpq_search_batch,
        pq_encode,
        pq_train,
    )
    from os_ex_3_map_reduce_spark.operators.similarity import (
        ivf_assign,
        rerank_exact,
        topk_to_query_batch,
        train_centroids_sample,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    qvs = [
        [float(x) for x in r.embedding]
        for r in sorted(
            emb.where(F.col("vec_id") < 3).collect(), key=lambda r: r.vec_id
        )
    ]
    cents = train_centroids_sample(emb, nlist=16)
    cb = pq_train(emb, m=16, ksub=16)
    codes = pq_encode(
        ivf_assign(emb, cents).withColumnRenamed("e", "embedding"),
        cb,
        keep_cols=["list_id"],
    )
    cand = ivfpq_search_batch(codes, cb, cents, qvs, k=24, nprobe=4).persist()
    cand.count()
    refined = rerank_exact(emb, qvs, cand, k=5)
    exact = {
        (r.query_id, r.vec_id): r.cosine
        for r in topk_to_query_batch(emb, qvs, k=5).collect()
    }
    adc5 = {(r.query_id, r.vec_id) for r in cand.collect() if r.rank <= 5}
    got = refined.collect()
    cand.unpersist()
    ref5 = {(r.query_id, r.vec_id) for r in got}
    assert len(ref5 & set(exact)) >= len(adc5 & set(exact))
    # refined scores are the true cosines (sf0.01 fixture: refine
    # finds every exact hit the probes surfaced; spot-check values)
    for r in got:
        if (r.query_id, r.vec_id) in exact:
            assert r.exact_score == exact[(r.query_id, r.vec_id)]
    # self-match restored to 1.0 (ADC scores it ~0.7)
    assert all(
        r.exact_score == 1.0 for r in got if r.query_id == r.vec_id
    )


def test_rerank_candidate_contract_and_empty_batch(spark):
    """rerank_exact rejects an empty query batch and respects the
    candidate relation: rows never in the candidates cannot appear in
    the refined output even if their exact score is high."""
    import pytest as _pytest

    from os_ex_3_map_reduce_spark.operators.similarity import rerank_exact

    emb = load_table(spark, SF_CORRECT, "embeddings")
    qv = [float(x) for x in emb.where(F.col("vec_id") == 0).first().embedding]
    with _pytest.raises(ValueError):
        rerank_exact(emb, [], emb.limit(0), k=5)
    # candidates deliberately EXCLUDE vec_id 0 (the query itself)
    cand = (
        emb.where((F.col("vec_id") > 0) & (F.col("vec_id") < 40))
        .select(
            F.lit(0).cast("long").alias("query_id"),
            "vec_id",
            F.row_number()
            .over(
                __import__("pyspark.sql.window", fromlist=["Window"])
                .Window.orderBy("vec_id")
            )
            .alias("rank"),
        )
    )
    got = rerank_exact(emb, [qv], cand, k=5).collect()
    assert len(got) == 5
    assert all(r.vec_id != 0 for r in got)  # self-match never injected
    assert all(1 <= r.coarse_rank <= 39 for r in got)


def test_dsir_margin_ledger_and_selection_semantics(spark, duck):
    """Evidence for q_dsir_select's determinism + semantics: (1)
    rounding-margin ledger — every distinct (target_count,
    source_count) bucket term AND the global constant sit far from a
    6-decimal rounding boundary, so a <=2-ulp libm-vs-JVM ln
    disagreement can never flip a rounded term; (2) the selected set
    really is importance-weighted toward the target distribution —
    the lang='en' share of the selected 50 must exceed the corpus
    share (that's the whole point of DSIR)."""
    import math

    import numpy as np

    from os_ex_3_map_reduce_spark.plans import all_queries

    pairs = duck.execute(
        """
        WITH toks AS (
            SELECT doc_id, lang,
                   list_filter(string_split(text, ' '), w -> w <> '') AS t
            FROM documents
        ),
        uni AS (SELECT doc_id, lang, unnest(t) AS f FROM toks),
        bi AS (
            SELECT doc_id, lang, unnest(list_transform(
                generate_series(1, len(t) - 1),
                i -> concat_ws(' ', t[i], t[i+1]))) AS f
            FROM toks WHERE len(t) >= 2
        ),
        feats AS (
            SELECT doc_id, lang,
                   ('0x' || substr(md5(f), 1, 4))::INT % 64 AS b
            FROM (SELECT * FROM uni UNION ALL SELECT * FROM bi)
        ),
        sc AS (SELECT b, COUNT(*) AS s FROM feats GROUP BY b),
        tc AS (SELECT b, COUNT(*) AS tt FROM feats WHERE lang = 'en'
               GROUP BY b)
        SELECT DISTINCT COALESCE(tc.tt, 0) AS tt, sc.s
        FROM sc LEFT JOIN tc ON sc.b = tc.b
        """
    ).fetchall()
    src_n, tgt_n = duck.execute(
        """
        WITH toks AS (
            SELECT doc_id, lang,
                   list_filter(string_split(text, ' '), w -> w <> '') AS t
            FROM documents
        ),
        uni AS (SELECT lang, unnest(t) AS f FROM toks),
        bi AS (
            SELECT lang, unnest(list_transform(
                generate_series(1, len(t) - 1),
                i -> concat_ws(' ', t[i], t[i+1]))) AS f
            FROM toks WHERE len(t) >= 2
        ),
        feats AS (SELECT * FROM uni UNION ALL SELECT * FROM bi)
        SELECT COUNT(*), COUNT(*) FILTER (lang = 'en') FROM feats
        """
    ).fetchone()
    terms = [math.log(tt + 1) - math.log(s + 1) for tt, s in pairs]
    terms.append(math.log(src_n + 64) - math.log(tgt_n + 64))
    scaled = np.array(terms, dtype=np.float64) * 1e6
    margin = np.abs(np.abs(scaled - np.floor(scaled)) - 0.5).min()
    assert margin > 1e-7, f"rounding margin too small: {margin}"

    sel = all_queries()["q_dsir_select"](spark, SF_CORRECT)
    langs = {
        r.doc_id: r.lang
        for r in load_table(spark, SF_CORRECT, "documents")
        .select("doc_id", "lang")
        .collect()
    }
    got = sel.collect()
    assert len(got) == 50 and len({r.doc_id for r in got}) == 50
    en_share_sel = sum(langs[r.doc_id] == "en" for r in got) / 50
    en_share_all = sum(v == "en" for v in langs.values()) / len(langs)
    assert en_share_sel > en_share_all, (en_share_sel, en_share_all)
    # ranks are a permutation of 1..50 aligned with descending logw
    ranks = sorted((r.rank, r.logw) for r in got)
    assert [r for r, _ in ranks] == list(range(1, 51))
    assert all(
        ranks[i][1] >= ranks[i + 1][1] for i in range(49)
    )


def test_entropy_margin_ledger_and_reference(spark, duck):
    """q_entropy_quality determinism evidence: every distinct token
    count c in the corpus has c*ln(c) (and every doc's ln(n_tokens))
    far from a 6-decimal rounding boundary, and a numpy reference
    recomputes one document's entropy to the emitted value."""
    import math

    import numpy as np

    from os_ex_3_map_reduce_spark.plans import all_queries

    cs = [
        r[0]
        for r in duck.execute(
            """
            WITH w AS (SELECT doc_id,
                              unnest(list_filter(string_split(text, ' '),
                                                 x -> x <> '')) AS w
                       FROM documents),
            wc AS (SELECT doc_id, w, COUNT(*) AS c FROM w GROUP BY doc_id, w)
            SELECT DISTINCT c FROM wc
            UNION
            SELECT DISTINCT SUM(c) FROM wc GROUP BY doc_id
            """
        ).fetchall()
    ]
    vals = np.array(
        [c * math.log(c) for c in cs] + [math.log(c) for c in cs],
        dtype=np.float64,
    )
    scaled = vals * 1e6
    margin = np.abs(np.abs(scaled - np.floor(scaled)) - 0.5)[vals != 0].min()
    assert margin > 1e-7, f"rounding margin too small: {margin}"

    got = {
        r.doc_id: r
        for r in all_queries()["q_entropy_quality"](spark, SF_CORRECT).collect()
    }
    doc0 = duck.execute(
        "SELECT text FROM documents ORDER BY doc_id LIMIT 1"
    ).fetchone()[0]
    words = [w for w in doc0.split(" ") if w]
    from collections import Counter

    counts = Counter(words)
    n = len(words)
    # r13 pure-integer contract: s_mu = sum KLNT[c], h_num_mu =
    # n*LNT[n] - s_mu, so H = h_num_mu / (n*1e6); the reference
    # recomputation is exact INTEGER equality, no tolerance at all
    s_mu = sum(round(c * math.log(c) * 1e6) for c in counts.values())
    first_id = min(got)
    assert got[first_id].n_tokens == n
    assert got[first_id].n_distinct == len(counts)
    assert got[first_id].s_mu == s_mu
    assert got[first_id].h_num_mu == n * round(math.log(n) * 1e6) - s_mu
    # uniform docs (all counts 1): s_mu = 0, so h_num_mu hits its
    # maximum n*LNT[n] exactly; every doc stays at or below it
    for r in got.values():
        lnt_n = round(math.log(r.n_tokens) * 1e6)
        if r.n_distinct == r.n_tokens:
            assert r.h_num_mu == r.n_tokens * lnt_n
        assert r.h_num_mu <= r.n_tokens * lnt_n
        # NOT asserting h_num_mu >= 0: a fully-repetitive doc (one
        # distinct token) has h_num = n*LNT[n] - KLNT[n], two
        # INDEPENDENT roundings of the same real, which can land at -1
        # (e.g. n=10: 10*2302585 vs 23025851). Entropy-0 docs sit
        # within one table-rounding ulp of 0 by construction; both
        # engines compute the identical integer either way.
        assert r.s_mu >= 0


def test_filtered_search_respects_predicate_everywhere(spark):
    """q_ann_filtered's hard requirement: no stage may leak a row the
    predicate excludes — candidates, refined results, and the recall
    baseline must all satisfy label < 4; and the result must differ
    from the UNfiltered search wherever an excluded row would have
    made top-5 (otherwise the filter did nothing and the test is
    vacuous)."""
    from os_ex_3_map_reduce_spark.plans import all_queries

    qs = all_queries()
    got = qs["q_ann_filtered"](spark, SF_CORRECT).collect()
    labels = {
        r.vec_id: r.label
        for r in load_table(spark, SF_CORRECT, "embeddings")
        .select("vec_id", "label")
        .collect()
    }
    assert got and all(labels[r.vec_id] < 4 for r in got)
    unfiltered = {
        (r.query_id, r.vec_id)
        for r in qs["q_ann_rerank"](spark, SF_CORRECT).collect()
    }
    filtered = {(r.query_id, r.vec_id) for r in got}
    dropped = unfiltered - filtered
    assert any(labels.get(v, 9) >= 4 for _, v in dropped), (
        "filter was vacuous on this fixture — pick a different predicate"
    )


def test_opq_objective_monotone_and_correlation_helps(spark):
    """OPQ contract (Ge et al.): (1) R stays orthogonal to machine
    precision; (2) the alternation drives the train-sample
    reconstruction error monotonically down (up to the bounded-Lloyd
    tolerance) and BELOW the identity-rotation (plain PQ) error;
    (3) on deliberately CORRELATED data the relative gain is larger —
    the property OPQ exists for. Measured here: ~15% error reduction
    isotropic, ~30% correlated."""
    import numpy as np

    from os_ex_3_map_reduce_spark.operators.pq import (
        _kmeans_subspace,
        opq_errors,
        opq_train,
    )

    emb = load_table(spark, SF_CORRECT, "embeddings")
    R, cb = opq_train(emb, m=16, ksub=16, iters=3)
    assert np.abs(R.T @ R - np.eye(64)).max() < 1e-9
    assert cb.shape == (16, 16, 4)

    rows = (
        emb.select("vec_id", F.col("embedding").cast("array<double>").alias("e"))
        .orderBy("vec_id")
        .limit(512)
        .collect()
    )
    X = np.stack([np.asarray(r.e, dtype=np.float64) for r in rows])
    X = X / np.linalg.norm(X, axis=1, keepdims=True)

    def identity_err(Y):
        m, ksub, d = 16, 16, Y.shape[1]
        dsub = d // m
        cb0 = np.stack(
            [
                _kmeans_subspace(Y[:, j * dsub:(j + 1) * dsub], ksub, 42 + j, 10)
                for j in range(m)
            ]
        )
        Yh = np.empty_like(Y)
        for j in range(m):
            sub = Y[:, j * dsub:(j + 1) * dsub]
            C = cb0[j]
            a = (sub @ C.T - 0.5 * (C * C).sum(axis=1)).argmax(axis=1)
            Yh[:, j * dsub:(j + 1) * dsub] = C[a]
        return ((Y - Yh) ** 2).sum()

    base = identity_err(X)
    errs = opq_errors(X, 16, 16, iters=6)
    assert errs[-1] < base
    # monotone up to bounded-Lloyd tolerance (1% slack per step)
    assert all(b <= a * 1.01 for a, b in zip(errs, errs[1:])), errs

    rng = np.random.RandomState(0)
    M = np.eye(64) + 0.9 * rng.randn(64, 64) / 8
    Y = X @ M
    Y = Y / np.linalg.norm(Y, axis=1, keepdims=True)
    base_y = identity_err(Y)
    errs_y = opq_errors(Y, 16, 16, iters=6)
    gain_iso = 1 - errs[-1] / base
    gain_cor = 1 - errs_y[-1] / base_y
    assert gain_cor > gain_iso > 0.05, (gain_iso, gain_cor)


def test_unigram_lm_conservation_coverage_and_segmentation(spark):
    """Unigram-LM trainer contracts: (1) conservation — the final
    Viterbi counts satisfy sum(count x piece_len) == total word
    characters in the corpus (every word fully segmented, nothing
    double-counted); (2) coverage — every distinct word segments
    losslessly under the final model (concatenation reconstructs the
    word); (3) the learned multi-char pieces dominate: total corpus
    characters covered by multi-char pieces exceeds 80% (the fixture
    generator's closed vocabulary makes whole words learnable); (4)
    the distributed E-step equals the reference single-word DP."""
    from os_ex_3_map_reduce_spark.operators.unigram_lm import (
        _logprobs,
        unigram_segment,
        unigram_train,
        viterbi_counts,
        word_histogram,
    )

    docs = load_table(spark, SF_CORRECT, "documents")
    vocab = unigram_train(docs, iters=2)
    wh = word_histogram(docs).collect()
    total_chars = sum(len(r.w) * r.freq for r in wh)
    covered = int((vocab["count"] * vocab["piece"].str.len()).sum())
    assert covered == total_chars

    logp = _logprobs(vocab)
    multi_chars = 0
    for r in wh:
        segs = unigram_segment(r.w, logp, 6)
        assert "".join(segs) == r.w
        multi_chars += sum(len(s) for s in segs if len(s) > 1) * r.freq
    assert multi_chars / total_chars > 0.8

    # distributed E-step == reference DP (same counts)
    words = word_histogram(docs)
    dist = {
        r.piece: int(r["count"])
        for r in viterbi_counts(words, logp, 6).collect()
    }
    ref: dict[str, int] = {}
    for r in wh:
        for s in unigram_segment(r.w, logp, 6):
            ref[s] = ref.get(s, 0) + r.freq
    assert dist == ref


class TestKMVSketch:
    """operators/sketch.py KMV ('theta') distinct sketch + mergeable
    bottom-k sample: the merge identity (exactly, not approximately),
    estimator behavior in both regimes, and the two-level bottom-k's
    partitioning invariance."""

    def test_merge_equals_direct_sketch(self, spark):
        from pyspark.sql import functions as F

        from os_ex_3_map_reduce_spark.operators.sketch import (
            kmv_merge,
            kmv_sketch,
        )
        from os_ex_3_map_reduce_spark.sources.tables import load_table

        ordr = load_table(spark, "/root/testdata/sf0.001", "orders")
        parts = [
            ordr.filter(F.col("o_orderkey") % 3 == i) for i in range(3)
        ]
        merged = kmv_merge(
            parts[0]
            .transform(lambda d: kmv_sketch(d, "o_custkey", 32))
            .unionByName(kmv_sketch(parts[1], "o_custkey", 32))
            .unionByName(kmv_sketch(parts[2], "o_custkey", 32)),
            32,
        )
        direct = kmv_sketch(ordr, "o_custkey", 32)
        m = sorted(r.h for r in merged.collect())
        d = sorted(r.h for r in direct.collect())
        assert m == d and len(d) == 32

    def test_estimator_exact_below_k_and_bounded_above(self, spark):
        from pyspark.sql import functions as F

        from os_ex_3_map_reduce_spark.operators.sketch import (
            kmv_estimate,
            kmv_sketch,
        )
        from os_ex_3_map_reduce_spark.sources.tables import load_table

        ordr = load_table(spark, "/root/testdata/sf0.001", "orders")
        n_true = ordr.select("o_custkey").distinct().count()
        # k above the distinct count: sketch holds every hash -> exact
        big = kmv_estimate(kmv_sketch(ordr, "o_custkey", 4096), 4096)
        r = big.collect()[0]
        assert r.est_distinct == float(n_true)
        # k = 64: standard KMV relative error ~ 1/sqrt(k-2) ~ 12.7%;
        # assert a loose 3-sigma envelope
        small = kmv_estimate(kmv_sketch(ordr, "o_custkey", 64), 64)
        est = small.collect()[0].est_distinct
        assert abs(est - n_true) / n_true < 3 / (62 ** 0.5)

    def test_bottom_k_partitioning_invariant(self, spark):
        from os_ex_3_map_reduce_spark.operators.sketch import bottom_k
        from pyspark.sql import functions as F

        base = spark.range(0, 5000).select(
            (F.xxhash64("id") % 100000).alias("h"),
            (F.col("id") % 7).alias("v"),
        )
        outs = []
        for nparts in (1, 3, 32):
            got = bottom_k(
                base.repartition(nparts), 50, order=["h", "v"]
            ).collect()
            outs.append(sorted((r.h, r.v, r.rk) for r in got))
        assert outs[0] == outs[1] == outs[2]
        assert len(outs[0]) == 50

    def test_bottomk_sample_merge_identity(self, spark):
        from pyspark.sql import functions as F

        from os_ex_3_map_reduce_spark.operators.sketch import (
            bottom_k,
            bottomk_sample,
        )
        from os_ex_3_map_reduce_spark.sources.tables import load_table

        li = load_table(spark, "/root/testdata/sf0.001", "lineitem")
        ident = F.concat_ws(
            "-",
            F.col("l_orderkey").cast("string"),
            F.col("l_linenumber").cast("string"),
        )
        base = li.select(
            F.col("l_returnflag").alias("seg"),
            F.col("l_extendedprice").alias("val"),
            ident.alias("ident"),
        )
        seg = bottomk_sample(base, 128, F.col("ident"), ["val"], by=["seg"])
        merged = bottom_k(seg.select("h", "val"), 128, order=["h", "val"])
        direct = bottomk_sample(base, 128, F.col("ident"), ["val"])
        m = sorted((r.h, r.val) for r in merged.collect())
        d = sorted((r.h, r.val) for r in direct.collect())
        assert m == d and len(d) == 128


class TestNSWGraphANN:
    """operators/nsw.py: graph symmetry, self-retrieval, and the
    beam-width recall dial."""

    def _setup(self, spark, sf="/root/testdata/sf0.001"):
        from pyspark.sql import functions as F

        from os_ex_3_map_reduce_spark.operators.nsw import nsw_build
        from os_ex_3_map_reduce_spark.operators.similarity import (
            train_centroids_sample,
        )
        from os_ex_3_map_reduce_spark.sources.tables import load_table

        emb = load_table(spark, sf, "embeddings")
        qvs = [
            [float(x) for x in r.embedding]
            for r in sorted(
                emb.where(F.col("vec_id") < 3).collect(),
                key=lambda r: r.vec_id,
            )
        ]
        cents = train_centroids_sample(emb, 16)
        edges = nsw_build(emb, cents, k_graph=8).persist()
        return emb, edges, qvs

    def test_graph_is_symmetric(self, spark):
        emb, edges, _ = self._setup(spark)
        fwd = {(r.src, r.dst) for r in edges.collect()}
        assert all((b, a) in fwd for a, b in fwd)
        # every vector participates in the graph
        assert edges.select("src").distinct().count() == emb.count()
        edges.unpersist()

    def test_search_finds_self_and_beam_is_the_recall_dial(self, spark):
        from os_ex_3_map_reduce_spark.operators.nsw import nsw_search_batch
        from os_ex_3_map_reduce_spark.operators.similarity import (
            topk_to_query_batch,
        )

        emb, edges, qvs = self._setup(spark)
        exact = {
            (r.query_id, r.vec_id)
            for r in topk_to_query_batch(emb, qvs, k=5).collect()
        }

        def recall(beam: int) -> float:
            rows = nsw_search_batch(
                emb, edges, qvs, k=5, beam=beam, max_hops=8
            ).collect()
            # a query's own vector is in the corpus: must be rank 1
            for q in range(len(qvs)):
                top = [r for r in rows if r.query_id == q and r.rank == 1][0]
                assert top.vec_id == q and top.score == 1.0
            return sum(
                1 for r in rows if (r.query_id, r.vec_id) in exact
            ) / (5 * len(qvs))

        r4, r16 = recall(4), recall(16)
        assert r16 >= r4, (r4, r16)
        assert r16 >= 0.8  # measured 0.87 at sf0.001 with beam=16
        edges.unpersist()

    def test_append_equals_rebuild_and_rewrites_only_affected_lists(
        self, spark, tmp_path
    ):
        """nsw_append's whole contract: (1) the derived search graph
        after write(base)+append(delta) is EXACTLY nsw_build(full);
        (2) only the lists the delta touched were rewritten (file
        listings of untouched list_id= dirs byte-identical); (3) an
        empty delta is a no-op."""
        import os

        from pyspark.sql import functions as F

        from os_ex_3_map_reduce_spark.operators.nsw import (
            nsw_append,
            nsw_build,
            nsw_graph_indexed,
            nsw_write,
        )
        from os_ex_3_map_reduce_spark.operators.similarity import (
            train_centroids_sample,
        )
        from os_ex_3_map_reduce_spark.sources.tables import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        cents = train_centroids_sample(emb, 16)
        base = emb.where(F.col("vec_id") >= 3)
        delta = emb.where(F.col("vec_id") < 3)
        path = str(tmp_path / "nsw_idx")
        nsw_write(base, cents, path, k_graph=8)

        def listing() -> dict[str, tuple[str, ...]]:
            root = f"{path}/links"
            return {
                d: tuple(sorted(os.listdir(os.path.join(root, d))))
                for d in sorted(os.listdir(root))
                if d.startswith("list_id=")
            }

        before = listing()
        affected = nsw_append(delta, path, cents, k_graph=8)
        after = listing()
        # 3 delta vectors x top-2 lists: at most 6 affected of 16
        assert 0 < len(affected) <= 6
        for d, files in before.items():
            lid = int(d.split("=")[1])
            if lid in affected:
                assert after[d] != files, f"{d} not rewritten"
            else:
                assert after[d] == files, f"{d} touched"

        got = sorted(
            (r.src, r.dst, r.score)
            for r in nsw_graph_indexed(spark, path, k_graph=8).collect()
        )
        want = sorted(
            (r.src, r.dst, r.score)
            for r in nsw_build(emb, cents, k_graph=8).collect()
        )
        assert got == want

        # empty delta: no list rewritten, graph unchanged
        assert nsw_append(
            emb.where(F.col("vec_id") < 0), path, cents, k_graph=8
        ) == []
        assert listing() == after


class TestUnigramEncode:
    """q_unigram_encode: the frozen-model encode pass conserves
    characters — sum(count x piece_len) over the emitted piece counts
    equals the corpus's total word characters (every char lands in
    exactly one piece of exactly one segmentation)."""

    def test_encode_conserves_chars(self, spark):
        from pyspark.sql import functions as F

        from os_ex_3_map_reduce_spark.operators.unigram_lm import (
            _logprobs,
            unigram_train,
            viterbi_counts,
            word_histogram,
        )
        from os_ex_3_map_reduce_spark.sources.tables import load_table

        docs = load_table(spark, "/root/testdata/sf0.001", "documents")
        vocab = unigram_train(docs, iters=2, seed_max=512, keep=256)
        logp = _logprobs(vocab)
        max_len = int(vocab["piece"].str.len().max())
        hist = word_histogram(docs).persist()
        counts = viterbi_counts(hist, logp, max_len)
        encoded_chars = counts.select(
            F.sum(F.col("count") * F.length("piece")).alias("s")
        ).first()["s"]
        corpus_chars = hist.select(
            F.sum(F.col("freq") * F.length("w")).alias("s")
        ).first()["s"]
        assert encoded_chars == corpus_chars
        hist.unpersist()


class TestHNSWDescent:
    """operators/nsw.py hnsw_search_batch: the descent finds each
    query's own vector, recall stays at the flat walk's level, and
    the base-layer hop count never exceeds the flat walk's (the
    entry-quality property the hierarchy exists for)."""

    def test_descent_recall_and_hops(self, spark):
        from pyspark.sql import functions as F

        from os_ex_3_map_reduce_spark.operators.nsw import (
            hnsw_search_batch,
            nsw_build,
            nsw_search_batch,
        )
        from os_ex_3_map_reduce_spark.operators.similarity import (
            topk_to_query_batch,
            train_centroids_sample,
        )
        from os_ex_3_map_reduce_spark.sources.tables import load_table

        emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
        qvs = [
            [float(x) for x in r.embedding]
            for r in sorted(
                emb.where(F.col("vec_id") < 3).collect(),
                key=lambda r: r.vec_id,
            )
        ]
        cents = train_centroids_sample(emb, 16)
        hier = hnsw_search_batch(
            emb, cents, qvs, k=5, beam=16, k_graph=8, max_hops=8
        )
        rows = hier.collect()
        # each query's own vector is rank 1
        for q in range(3):
            top = [r for r in rows if r.query_id == q and r.rank == 1][0]
            assert top.vec_id == q and top.score == 1.0
        # recall vs exact at least at the flat walk's measured level
        exact = {
            (r.query_id, r.vec_id)
            for r in topk_to_query_batch(emb, qvs, k=5).collect()
        }
        hits = sum(1 for r in rows if (r.query_id, r.vec_id) in exact)
        assert hits / 15.0 >= 0.8  # flat measured 0.87 at this scale
        # the descent's base walk never needs MORE hops than flat
        h2, h1, h0 = hier._osx3_hops_levels
        edges = nsw_build(emb, cents, k_graph=8).persist()
        flat = nsw_search_batch(emb, edges, qvs, k=5, beam=16, max_hops=8)
        flat.count()
        assert h0 <= flat._osx3_hops
        assert h2 > 0 and h1 > 0
        edges.unpersist()


class TestRobustPrune:
    """operators/nsw.py robust_prune: the alpha-domination rule on a
    hand-checkable geometry — collinear near-duplicates collapse to
    one kept edge, orthogonal directions all survive."""

    def test_domination_and_direction_spread(self, spark):
        import numpy as np

        from os_ex_3_map_reduce_spark.operators.nsw import robust_prune

        # node 0 at origin-ish; neighbors: two near-duplicate close
        # vectors in direction A (the closer dominates the other),
        # one in direction B — expect {closest-A, B} kept, dup-A
        # pruned, under k_out=3 (so the cap is NOT the reason)
        vecs = {
            0: [1.0, 0.0, 0.0, 0.0],
            1: [0.99, 0.14, 0.0, 0.0],   # direction A, closest
            2: [0.98, 0.19, 0.0, 0.0],   # direction A, dominated by 1
            3: [0.70, 0.0, 0.71, 0.0],   # direction B
        }
        emb = spark.createDataFrame(
            [(k, [float(x) for x in v]) for k, v in vecs.items()],
            "vec_id long, embedding array<double>",
        )

        def cos(a, b):
            a, b = np.array(vecs[a]), np.array(vecs[b])
            return round(
                float(
                    a @ b / (np.linalg.norm(a) * np.linalg.norm(b))
                ),
                4,
            )

        edges = spark.createDataFrame(
            [(0, d, cos(0, d)) for d in (1, 2, 3)],
            "src long, dst long, score double",
        )
        kept = sorted(
            r.dst
            for r in robust_prune(
                emb, edges, alpha=1.2, k_out=3
            ).collect()
        )
        assert kept == [1, 3], kept  # 2 dominated by 1; 3 kept (new direction)
        # with alpha huge, domination never fires -> all 3 survive
        kept_all = sorted(
            r.dst
            for r in robust_prune(
                emb, edges, alpha=100.0, k_out=3
            ).collect()
        )
        assert kept_all == [1, 2, 3]


def test_rank_metrics_invariants(spark):
    """The eval arithmetic's fixed points: a PERFECT ranking scores
    ndcg == mrr == 1e6 and recall 1000; a ranking whose top-10 misses
    every true top-10 scores all zeros; a single swap of ranks 1 and 2
    produces the exact closed-form nDCG drop."""
    from os_ex_3_map_reduce_spark.plans.llm import (
        _NDCG_GAINS,
        _NDCG_IDEAL,
        rank_metrics,
    )

    # perfect: eval scores identical to truth scores
    rows = [(0, i, float(100 - i), float(100 - i)) for i in range(30)]
    df = spark.createDataFrame(
        rows, "query_id int, vec_id long, c_eval double, c_true double"
    )
    m = rank_metrics(df).collect()[0]
    assert (m.ndcg_x1e6, m.mrr_x1e6, m.recall_at10_x1000) == (
        1000000,
        1000000,
        1000,
    )

    # total miss: eval prefers exactly the non-relevant tail
    rows = [
        (0, i, float(i), float(100 - i)) for i in range(30)
    ]  # eval ranks 29..0, truth ranks 0..29
    df = spark.createDataFrame(
        rows, "query_id int, vec_id long, c_eval double, c_true double"
    )
    m = rank_metrics(df).collect()[0]
    assert (m.dcg, m.ndcg_x1e6, m.mrr_x1e6, m.recall_at10_x1000) == (
        0,
        0,
        0,
        0,
    )

    # swap ranks 1 and 2: dcg = ideal - (10-9)*(G1-G2)
    rows = [(0, i, float(100 - i), float(100 - i)) for i in range(30)]
    rows[0] = (0, 0, 98.5, 100.0)  # vec 0 drops to eval rank 2
    df = spark.createDataFrame(
        rows, "query_id int, vec_id long, c_eval double, c_true double"
    )
    m = rank_metrics(df).collect()[0]
    expect_dcg = _NDCG_IDEAL - (_NDCG_GAINS[0] - _NDCG_GAINS[1])
    assert m.dcg == expect_dcg
    assert m.ndcg_x1e6 == expect_dcg * 1000000 // _NDCG_IDEAL
    assert m.mrr_x1e6 == 1000000  # rank 1 still relevant (rel=9)


def test_containment_asymmetric_quote_detection(spark):
    """The relation Jaccard cannot express, on a hand-built case: a
    6-word quote embedded verbatim in a 40-word host doc gives
    containment(quote -> host) = 1.0 in THAT direction only, while
    its Jaccard sits far below the symmetric threshold. Plus the
    pigeonhole completeness check against brute force on constructed
    edge shapes (exact-threshold pair, sub-threshold pair)."""
    from os_ex_3_map_reduce_spark.operators.setsim import (
        containment_pairs,
        shingle_sets,
    )

    quote = "alpha beta gamma delta epsilon zeta"
    host = (
        quote
        + " "
        + " ".join(f"w{i}" for i in range(34))
    )
    # doc 3: shares exactly 4 of quote's 4 shingles? quote has 4
    # 3-gram shingles; build a doc sharing 2 of them -> containment
    # 0.5, below 0.8: must NOT appear
    half = "alpha beta gamma delta x y z"
    docs = spark.createDataFrame(
        [(1, quote), (2, host), (3, half)], "doc_id long, text string"
    )
    got = {
        (r.doc_a, r.doc_b): (r.inter, r.n_a, r.containment)
        for r in containment_pairs(docs, 0.8).collect()
    }
    n_quote = shingle_sets(docs).where("doc_id = 1").count()
    assert (1, 2) in got and got[(1, 2)] == (
        n_quote,
        n_quote,
        1.0,
    )  # quote fully contained in host
    assert (2, 1) not in got  # host NOT contained in quote
    assert not any(3 in p for p in got)  # half-overlap below threshold


def test_mmr_alternates_clusters_where_topk_does_not(spark):
    """The reason MMR exists, on constructed geometry: two tight
    clusters, one slightly closer to the query. Plain top-3 stays
    inside the closer cluster; MMR's second pick JUMPS to the other
    cluster (its maxsim-to-selected penalty outweighs the relevance
    gap), and lam=1.0 degenerates back to exactly the plain top-k
    order."""
    import numpy as np

    from os_ex_3_map_reduce_spark.operators.similarity import mmr_select

    rng = np.random.default_rng(7)
    q = np.array([1.0, 0.0, 0.0, 0.0])
    # both clusters near the query but on OPPOSITE sides: rel 0.98 vs
    # 0.95 (small relevance gap), cross-cluster cosine ~0.87 — the
    # regime where 0.3*(1 - cross_sim) > 0.7*(rel gap), i.e. where
    # diversity should win round 2
    c1 = np.array([0.98, 0.199, 0.0, 0.0])
    c2 = np.array([0.95, -0.312, 0.0, 0.0])
    rows = []
    for i in range(3):  # ids 1..3: cluster 1
        rows.append((i + 1, [float(x) for x in c1 + rng.normal(0, 0.005, 4)]))
    for i in range(3):  # ids 11..13: cluster 2
        rows.append((i + 11, [float(x) for x in c2 + rng.normal(0, 0.005, 4)]))
    emb = spark.createDataFrame(
        rows, "vec_id long, embedding array<double>"
    )
    out = sorted(
        mmr_select(emb, q, k=3, lam=0.7).collect(), key=lambda r: r.round
    )
    picks = [r.vec_id for r in out]
    assert picks[0] in (1, 2, 3)  # most relevant: closer cluster
    assert picks[1] in (11, 12, 13), picks  # diversity jump
    assert out[1].maxsim < 0.9  # cross-cluster, not a near-dup

    plain = sorted(
        mmr_select(emb, q, k=3, lam=1.0).collect(), key=lambda r: r.round
    )
    assert all(p.vec_id in (1, 2, 3) for p in plain)  # top-k stays
    rels = [p.rel for p in plain]
    assert rels == sorted(rels, reverse=True)


def test_postings_index_prunes_and_matches_live(spark, tmp_path):
    """The written inverted index: one file per term-hash bucket dir,
    a query reads only its terms' buckets (executed numFiles), and
    index serving returns byte-identical rows to the live pipeline
    (the shared-expression no-drift claim)."""
    from pyspark.sql import functions as F

    from os_ex_3_map_reduce_spark.operators.postings import (
        bm25_search_indexed,
        postings_write,
        term_buckets,
    )
    from os_ex_3_map_reduce_spark.plans.llm import _bm25_top

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "idx")
    postings_write(docs, path)

    post = spark.read.parquet(f"{path}/segments/0/postings")
    per_dir = (
        post.select(F.input_file_name().alias("f"), "tb")
        .distinct()
        .groupBy("tb")
        .count()
        .collect()
    )
    assert all(r["count"] == 1 for r in per_dir)

    terms = ["dup", "vector", "scan"]
    buckets = term_buckets(spark, terms, 16)
    pruned = post.where(
        F.col("tb").isin(buckets) & F.col("term").isin(terms)
    )

    def scanned_files(df):
        plan = df._jdf.queryExecution().executedPlan()
        plan.executeCollect()

        def find_scan(node):
            if node.metrics().contains("numFiles"):
                return node
            if node.nodeName() == "AdaptiveSparkPlan":
                return find_scan(node.executedPlan())
            if "QueryStage" in node.getClass().getSimpleName():
                return find_scan(node.plan())
            kids = node.children()
            for i in range(kids.size()):
                hit = find_scan(kids.apply(i))
                if hit is not None:
                    return hit
            return None

        scan = find_scan(plan)
        assert scan is not None
        return int(scan.metrics().apply("numFiles").value())

    assert scanned_files(pruned) == len(buckets) < scanned_files(post)

    got = sorted(
        tuple(r)
        for r in bm25_search_indexed(spark, path, terms, k=10).collect()
    )
    live = sorted(
        tuple(r) for r in _bm25_top(docs, terms, 10).collect()
    )
    assert got == live


def test_postings_segment_meta_contract_and_observed_stats(spark, tmp_path):
    """r15 optimization pin: segment stats now ride the lengths write
    (Observation) and the 1-row meta parquet is written driver-side
    via pyarrow. The meta must stay Spark-readable with the exact
    legacy schema (the ``_seg_meta`` manifest-less fallback contract)
    and carry exactly the stats the old separate agg job computed —
    and the manifest's denormalized copy must agree."""
    import json

    from pyspark.sql import functions as F

    from os_ex_3_map_reduce_spark.functions.text import tokens
    from os_ex_3_map_reduce_spark.operators.postings import postings_write

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    path = str(tmp_path / "idx")
    postings_write(docs, path)

    meta = spark.read.parquet(f"{path}/segments/0/meta")
    assert [(f.name, f.dataType.simpleString()) for f in meta.schema.fields] == [
        ("n_docs", "bigint"),
        ("total_tokens", "bigint"),
        ("n_buckets", "int"),
    ]
    row = meta.collect()[0]
    exp = (
        docs.select(F.size(tokens("text")).alias("n"))
        .agg(F.count(F.lit(1)).alias("c"), F.sum("n").alias("s"))
        .first()
    )
    assert (row.n_docs, row.total_tokens, row.n_buckets) == (exp.c, exp.s, 16)
    with open(f"{path}/MANIFEST") as f:
        man = json.load(f)
    assert man["stats"]["0"] == [row.n_docs, row.total_tokens]
    assert man["n_buckets"] == 16

    # empty-batch edge: zero docs must publish (0, 0) stats, not crash
    from os_ex_3_map_reduce_spark.operators.postings import postings_append

    new_id = postings_append(docs.where(F.col("doc_id") < 0), path)
    m2 = spark.read.parquet(f"{path}/segments/{new_id}/meta").collect()[0]
    assert (m2.n_docs, m2.total_tokens) == (0, 0)


def test_bpe_train_releases_all_cached_generations(spark):
    """r15 optimization pin: bpe_train now defers each generation's
    unpersist by one round (the argmax is the materializing action) —
    the loop must still release every cached block it created.

    Only RDDs persisted during the calls are checked: ContextCleaner
    may release earlier tests' cached RDDs while this test runs."""
    from os_ex_3_map_reduce_spark.operators.bpe import bpe_train

    def cached_ids() -> set:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(k) for k in jmap.keySet().toArray()}

    before = cached_ids()
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bpe_train(docs, num_merges=3).collect()
    # early-stop path holds fewer generations but must release too
    tiny = spark.createDataFrame([(1, "ab")], "doc_id long, text string")
    bpe_train(tiny, num_merges=5).collect()
    assert cached_ids() - before == set()


def test_postings_segment_append_equals_rebuild(spark, tmp_path):
    """The Lucene-segment theorem: append(odd) after write(even) must
    return byte-identical BM25 results to write(all) — df/n_docs/
    avgdl merge exactly because every statistic is additive over
    disjoint doc sets — and the append must leave segment 0's files
    byte-identical on disk."""
    import hashlib
    import pathlib

    from pyspark.sql import functions as F

    from os_ex_3_map_reduce_spark.operators.postings import (
        bm25_search_indexed,
        postings_append,
        postings_write,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    terms = ["dup", "vector", "scan"]

    inc = str(tmp_path / "inc")
    postings_write(docs.where(F.col("doc_id") % 2 == 0), inc)

    def seg0_digest() -> dict:
        out = {}
        for f in pathlib.Path(f"{inc}/segments/0").rglob("*"):
            if f.is_file():
                out[str(f)] = hashlib.md5(f.read_bytes()).hexdigest()
        return out

    before = seg0_digest()
    new_id = postings_append(docs.where(F.col("doc_id") % 2 == 1), inc)
    assert new_id == 1
    assert seg0_digest() == before  # immutable segment, byte-for-byte

    full = str(tmp_path / "full")
    postings_write(docs, full)
    got_inc = sorted(
        tuple(r)
        for r in bm25_search_indexed(spark, inc, terms, k=10).collect()
    )
    got_full = sorted(
        tuple(r)
        for r in bm25_search_indexed(spark, full, terms, k=10).collect()
    )
    assert got_inc == got_full


def test_postings_merge_preserves_results(spark, tmp_path):
    """Segment merge (the Lucene background-merge tier): after
    write + two appends, merging compacts to ONE segment with
    identical search results and the correct summed meta — without
    re-tokenizing any document."""
    from pyspark.sql import functions as F

    from os_ex_3_map_reduce_spark.operators.postings import (
        bm25_search_indexed,
        postings_append,
        postings_merge,
        postings_write,
        segment_ids,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    terms = ["dup", "vector", "scan"]
    path = str(tmp_path / "idx")
    postings_write(docs.where(F.col("doc_id") % 3 == 0), path)
    postings_append(docs.where(F.col("doc_id") % 3 == 1), path)
    postings_append(docs.where(F.col("doc_id") % 3 == 2), path)
    assert segment_ids(path) == [0, 1, 2]
    before = sorted(
        tuple(r)
        for r in bm25_search_indexed(spark, path, terms, k=10).collect()
    )
    merged_id = postings_merge(spark, path)
    assert segment_ids(path) == [merged_id]
    after = sorted(
        tuple(r)
        for r in bm25_search_indexed(spark, path, terms, k=10).collect()
    )
    assert before == after
    meta = spark.read.parquet(
        f"{path}/segments/{merged_id}/meta"
    ).collect()[0]
    assert meta.n_docs == docs.count()


def test_postings_merge_policy_bounds_segments_over_10_batches(
    spark, tmp_path
):
    """The background-merge POLICY (postings_merge(max_segments=N))
    run the way a streaming foreachBatch runs it — after every append
    — keeps the live segment count bounded under a 10-batch ingest,
    TIERS its firings (only the smallest segments merge, so the big
    base segment is never rewritten — byte-for-byte), and the final
    index searches identically to batch-indexing the full corpus
    (merge never changes results, only layout)."""
    import hashlib
    import pathlib

    from pyspark.sql import functions as F

    from os_ex_3_map_reduce_spark.operators.postings import (
        bm25_search_indexed,
        postings_append,
        postings_merge,
        postings_write,
        segment_ids,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    terms = ["dup", "vector", "scan"]
    path = str(tmp_path / "idx")
    max_segments = 3
    # big base (even half) + ten small deltas (odd half split 10 ways)
    postings_write(docs.where(F.col("doc_id") % 2 == 0), path)

    def base_digest() -> str:
        h = hashlib.sha256()
        for f in sorted(pathlib.Path(f"{path}/segments/0").rglob("*")):
            if f.is_file():
                h.update(f.name.encode())
                h.update(f.read_bytes())
        return h.hexdigest()

    before_base = base_digest()
    odd = docs.where(F.col("doc_id") % 2 == 1)
    merges = 0
    for b in range(10):  # ten delta batches
        postings_append(
            odd.where((F.col("doc_id") / 2).cast("long") % 10 == b), path
        )
        if postings_merge(spark, path, max_segments=max_segments) >= 0:
            merges += 1
        # the bound holds AFTER every batch, not just at the end
        assert len(segment_ids(path)) <= max_segments
    assert merges >= 2  # the policy actually fired under 10 batches
    # tiered firings never touched the (largest) base segment
    assert 0 in segment_ids(path)
    assert base_digest() == before_base
    got = sorted(
        tuple(r)
        for r in bm25_search_indexed(spark, path, terms, k=10).collect()
    )
    full = str(tmp_path / "full")
    postings_write(docs, full)
    want = sorted(
        tuple(r)
        for r in bm25_search_indexed(spark, full, terms, k=10).collect()
    )
    assert got == want
    # below the bound the policy is a no-op, not a forced compact
    assert postings_merge(spark, path, max_segments=max_segments) == -1


def test_postings_manifest_atomicity_orphans_invisible(spark, tmp_path):
    """Readers consult the MANIFEST, never the directory listing: a
    segment dir without a manifest entry (what a crash between a
    segment write and its publish leaves behind) is invisible to
    segment_ids AND to search, and postings_vacuum sweeps exactly
    those orphans."""
    import shutil

    from pyspark.sql import functions as F

    from os_ex_3_map_reduce_spark.operators.postings import (
        bm25_search_indexed,
        postings_vacuum,
        postings_write,
        segment_ids,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    terms = ["dup", "vector"]
    path = str(tmp_path / "idx")
    postings_write(docs.where(F.col("doc_id") % 2 == 0), path)
    before = sorted(
        tuple(r)
        for r in bm25_search_indexed(spark, path, terms, k=5).collect()
    )
    # simulate the crash: a fully-written segment dir, no publish
    shutil.copytree(f"{path}/segments/0", f"{path}/segments/7")
    assert segment_ids(path) == [0]  # orphan invisible to the reader
    after = sorted(
        tuple(r)
        for r in bm25_search_indexed(spark, path, terms, k=5).collect()
    )
    assert before == after  # no double-counted stats or dup docs
    assert postings_vacuum(path) == [7]
    assert not (tmp_path / "idx" / "segments" / "7").exists()
    assert segment_ids(path) == [0]

    # staging sweep honors the age floor (ADVICE r11): stale crash
    # debris goes, a fresh staging (possibly a live publisher's) stays
    import os
    import time

    from os_ex_3_map_reduce_spark.sources.versioned import (
        STAGING_AGE_FLOOR_SEC,
    )

    stale = f"{path}/MANIFEST.tmp.dead"
    fresh = f"{path}/MANIFEST.tmp.cafe"
    open(stale, "w").write("{}")
    open(fresh, "w").write("{}")
    old = time.time() - STAGING_AGE_FLOOR_SEC - 60
    os.utime(stale, (old, old))
    postings_vacuum(path)
    assert not os.path.exists(stale)
    assert os.path.exists(fresh)


def test_phrase_occurrences_adjacency_and_order(spark):
    """Phrase matching is positional: co-presence is not enough, order
    matters, overlapping occurrences all count, and the n-way fold
    handles 3-term phrases."""
    from os_ex_3_map_reduce_spark.operators.postings import (
        phrase_occurrences,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b a b a"),      # 'a b' twice, 'b a' twice
            (2, "x a y b z"),      # co-present, never adjacent
            (3, "a b c a b c"),    # 'a b c' twice
            (4, "b a"),            # reverse order only
        ],
        "doc_id long, text string",
    )

    def occ(phrase):
        return {
            (r.doc_id, r.n_occ)
            for r in phrase_occurrences(docs, phrase.split()).collect()
        }

    assert occ("a b") == {(1, 2), (3, 2)}
    assert occ("b a") == {(1, 2), (4, 1)}
    assert occ("a b c") == {(3, 2)}
    assert occ("c a b") == {(3, 1)}
    assert occ("y b z") == {(2, 1)}
    assert occ("b y") == set()
