"""Tests for the LLM-pipeline operators: dedup, similarity, text analysis,
multimodal plumbing."""

import numpy as np
import pytest
from pyspark.sql import functions as F


class TestTextFunctions:
    def test_tokenize_and_ngrams(self, spark):
        from datasketches_spark_spark.functions.text import ngrams, tokenize
        df = spark.createDataFrame([("a b c d",), ("x y",), ("solo",)],
                                   ["text"])
        out = df.select(
            tokenize("text").alias("t"),
            ngrams(tokenize("text"), 3).alias("tri")).collect()
        assert out[0].t == ["a", "b", "c", "d"]
        assert out[0].tri == ["a b c", "b c d"]
        assert out[1].tri == []          # shorter than n -> empty, not null
        assert out[2].t == ["solo"]

    def test_lang_id(self, spark):
        from datasketches_spark_spark.functions.text import lang_id
        df = spark.createDataFrame(
            [("the cat is in the house",),
             ("der hund ist ein tier und das ist gut",),
             ("qqq zzz www",)], ["text"])
        got = [r.l for r in df.select(lang_id("text").alias("l")).collect()]
        assert got == ["en", "de", "und"]

    def test_quality_features_exact(self, spark):
        from datasketches_spark_spark.functions.text import quality_features
        df = spark.createDataFrame([("the the cat",)], ["text"])
        feats = quality_features("text")
        r = df.select(feats["n_tokens"].alias("n"),
                      feats["distinct_ratio"].alias("dr"),
                      feats["stopword_ratio"].alias("sr"),
                      feats["mean_token_len"].alias("ml")).collect()[0]
        assert r.n == 3
        assert r.dr == pytest.approx(2 / 3)
        assert r.sr == pytest.approx(2 / 3)
        assert r.ml == pytest.approx(9 / 3)


class TestDedup:
    def test_exact_dedup_groups(self, spark):
        from datasketches_spark_spark.functions.text import token_set_fingerprint
        from datasketches_spark_spark.operators import exact_dedup_groups
        df = spark.createDataFrame(
            [(1, "a b c"), (2, "c b a a"), (3, "x y"), (4, "x y"), (5, "z")],
            ["doc_id", "text"])
        got = {(r.group_id, r.n_dups) for r in exact_dedup_groups(
            df, "doc_id", token_set_fingerprint("text")).collect()}
        assert got == {(1, 2), (3, 2)}   # {a,b,c} group and {x,y} group

    def test_minhash_finds_planted_neardups(self, spark):
        from datasketches_spark_spark.operators import minhash_dedup_pairs
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
               "lam mu nu xi omicron pi rho sigma tau upsilon"
        near = base.replace("pi rho", "pi zzz rho")  # high trigram overlap
        far = "one two three four five six seven eight nine ten eleven " \
              "twelve thirteen fourteen"
        df = spark.createDataFrame(
            [(1, base), (2, near), (3, far)], ["doc_id", "text"])
        pairs = minhash_dedup_pairs(df, "doc_id", "text",
                                    threshold=0.3).collect()
        assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]
        assert 0.3 <= pairs[0].jaccard < 1.0

    def test_lsh_mega_bucket_capped_to_star(self, spark):
        """A hot (band, bucket) with B ids must emit B-1 star edges (to the
        bucket minimum), not B^2/2 — while small buckets keep the full
        pairwise expansion. Connectivity survives: every id still reaches
        the bucket minimum."""
        from datasketches_spark_spark.operators.dedup import (
            lsh_candidate_pairs)
        hot = [(i, 0, 7) for i in range(50)]           # one mega-bucket
        small = [(100, 1, 9), (101, 1, 9), (102, 1, 9)]  # ordinary bucket
        band_df = spark.createDataFrame(hot + small,
                                        ["_id", "band", "bucket"])
        rows = lsh_candidate_pairs(band_df, max_bucket=8).collect()
        hot_pairs = {(r.id_a, r.id_b) for r in rows if r.id_b < 100}
        small_pairs = {(r.id_a, r.id_b) for r in rows if r.id_b >= 100}
        assert hot_pairs == {(0, i) for i in range(1, 50)}   # star, B-1 edges
        assert small_pairs == {(100, 101), (100, 102), (101, 102)}

    def test_minhash_unaffected_below_cap(self, spark):
        from datasketches_spark_spark.operators import minhash_dedup_pairs
        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " \
               "lam mu nu xi omicron pi rho sigma tau upsilon"
        near = base.replace("pi rho", "pi zzz rho")
        df = spark.createDataFrame(
            [(1, base), (2, near)], ["doc_id", "text"])
        pairs = minhash_dedup_pairs(df, "doc_id", "text", threshold=0.3,
                                    max_bucket=4).collect()
        assert [(p.id_a, p.id_b) for p in pairs] == [(1, 2)]

    def test_simhash_hamming_property(self, spark, tables):
        from datasketches_spark_spark.operators import (
            simhash, simhash_dedup_pairs)
        docs = tables["documents"]
        sigs = {r._id: r.simhash
                for r in simhash(docs, "doc_id", "text").collect()}
        assert len(sigs) == docs.count()
        pairs = simhash_dedup_pairs(docs, "doc_id", "text",
                                    max_distance=3).collect()
        mask = (1 << 64) - 1  # signatures are signed int64: mask for popcount
        for p in pairs:
            assert p.id_a < p.id_b
            ham = bin((sigs[p.id_a] ^ sigs[p.id_b]) & mask).count("1")
            assert ham <= 3
            assert p.hamming == ham

    def test_simhash_distance_cap(self, spark, tables):
        from datasketches_spark_spark.operators import simhash_dedup_pairs
        with pytest.raises(ValueError, match="pigeonhole"):
            simhash_dedup_pairs(tables["documents"], "doc_id", "text",
                                max_distance=4)

    @staticmethod
    def _assert_partial_dedup_before_exchange(df, keys):
        """The candidate-pair ``.distinct()`` must plan a map-side partial
        HashAggregate BEFORE the pair-key Exchange — so the shuffle carries
        per-partition-deduped pairs, not every raw collision (the contract
        docs/PLANS.md documents for q18's fused pair-dedup). A Spark
        upgrade that regressed this to a raw-pair shuffle would pass every
        value test and silently lose the scale property; pin the shape."""
        plan = df._jdf.queryExecution().executedPlan().toString()
        key0 = keys[0]
        aggs = [i for i in range(len(plan))
                if plan.startswith("HashAggregate(keys=[", i)
                and key0 in plan[i:i + 120]]
        exch = [i for i in range(len(plan))
                if plan.startswith("Exchange hashpartitioning(", i)
                and key0 in plan[i:i + 120]]
        # tree prints top-down: the partial aggregate is the occurrence
        # BELOW (after) the exchange in the text
        assert exch and any(a > exch[0] for a in aggs), plan

    def test_lsh_pair_dedup_plans_partial_aggregate(self, spark):
        from datasketches_spark_spark.operators.dedup import (
            lsh_candidate_pairs)
        band_df = spark.createDataFrame(
            [(i, b, i % 3) for i in range(12) for b in range(2)],
            ["_id", "band", "bucket"])
        self._assert_partial_dedup_before_exchange(
            lsh_candidate_pairs(band_df), ["id_a", "id_b"])

    def test_simhash_pair_dedup_plans_partial_aggregate(self, spark, tables):
        from datasketches_spark_spark.operators import simhash_dedup_pairs
        self._assert_partial_dedup_before_exchange(
            simhash_dedup_pairs(tables["documents"], "doc_id", "text"),
            ["id_a", "id_b"])


class TestSimilarity:
    def test_cosine_topk_matches_numpy(self, spark, tables):
        from datasketches_spark_spark.operators import cosine_topk
        emb = tables["embeddings"]
        rows = emb.collect()
        ids = np.array([r.vec_id for r in rows])
        mat = np.vstack([np.asarray(r.embedding, dtype=np.float64)
                         for r in rows])
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        qs = [(r.vec_id, r.embedding) for r in rows[:5]]
        got = cosine_topk(emb.repartition(8), qs, k=3).collect()
        for qid, vec in qs:
            qv = np.asarray(vec, dtype=np.float64)
            qv = qv / np.linalg.norm(qv)
            sims = mat @ qv
            order = [int(ids[i]) for i in np.lexsort((ids, -sims))
                     if ids[i] != qid][:3]
            mine = [r.neighbor_id for r in sorted(
                (g for g in got if g.query_id == qid), key=lambda r: r.rank)]
            assert mine == order

    def test_cosine_pairs_blocked_equals_single_block(self, spark, tables):
        from datasketches_spark_spark.operators import cosine_pairs
        emb = tables["embeddings"]
        small = {(r.id_a, r.id_b) for r in
                 cosine_pairs(emb, 0.4, block_size=50).collect()}
        big = {(r.id_a, r.id_b) for r in
               cosine_pairs(emb, 0.4, block_size=100_000).collect()}
        assert small == big

    def test_rhp_plan_tuning(self):
        import math
        from datasketches_spark_spark.operators.similarity import rhp_plan
        bits, tables = rhp_plan(0.98, per_pair_miss=1e-9)
        p_bit = 1 - math.acos(0.98) / math.pi
        assert (1 - p_bit ** bits) ** tables <= 1e-9   # contract holds
        assert bits >= 12                              # selective banding
        # low thresholds cannot prune: refuse with exact-path guidance
        with pytest.raises(ValueError, match="prefilter=None"):
            rhp_plan(0.45)
        # exact duplicates need only one table
        assert rhp_plan(1.0)[1] == 1

    def test_cosine_pairs_prefiltered_equals_exact(self, spark):
        """prefilter='rhp' must reproduce the exact blocked path on a
        corpus with true near-dups (planted twins at cosine ~0.9998)."""
        from datasketches_spark_spark.operators import cosine_pairs
        rng = np.random.default_rng(42)
        base = rng.standard_normal((120, 64))
        twins = base[::2].copy()
        twins[:, 0] *= 1.02
        rows = ([(i, [float(x) for x in base[i]]) for i in range(120)]
                + [(1000 + 2 * j, [float(x) for x in twins[j]])
                   for j in range(60)])
        df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
        exact = {(r.id_a, r.id_b)
                 for r in cosine_pairs(df, 0.98).collect()}
        pre = {(r.id_a, r.id_b)
               for r in cosine_pairs(df, 0.98, prefilter="rhp").collect()}
        assert exact == pre
        assert len(exact) == 60  # exactly the planted twin pairs
        with pytest.raises(ValueError, match="unknown prefilter"):
            cosine_pairs(df, 0.98, prefilter="bogus")

    def test_rhp_ann_recall(self, spark, tables):
        from datasketches_spark_spark.operators import cosine_topk, rhp_ann_topk
        emb = tables["embeddings"]
        qs = [(r.vec_id, r.embedding)
              for r in emb.where("vec_id < 10").collect()]
        exact = {(r.query_id, r.neighbor_id)
                 for r in cosine_topk(emb, qs, k=5).collect()}
        # top-5 neighbors here sit at cosine ~0.4 (~66 deg): RHP bit-match
        # prob ~0.63, so short signatures + many tables is the right trade
        approx = {(r.query_id, r.neighbor_id)
                  for r in rhp_ann_topk(emb, qs, k=5, num_bits=4,
                                        num_tables=32).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.6  # approximate by design; must be non-trivial


class TestMultimodal:
    def test_payload_and_features(self, spark, tables):
        import zlib
        from datasketches_spark_spark.operators import (
            extract_features, with_payload)
        docs = tables["documents"].limit(20)
        texts = {r.doc_id: r.text for r in docs.collect()}
        out = extract_features(with_payload(docs, "text"), "doc_id").collect()
        assert len(out) == 20
        for r in out:
            raw = texts[r.doc_id].encode("utf-8")
            assert r.num_bytes == len(raw)
            assert r.checksum == zlib.crc32(raw)
            assert 0 <= r.byte_entropy <= 8

    def test_decode_stub_raises(self):
        from datasketches_spark_spark.operators.multimodal import decode_payload
        with pytest.raises(NotImplementedError):
            decode_payload(b"\x89PNG", "image")
        assert decode_payload(b"xy", "image", codec=lambda b: len(b)) == 2

    def test_metadata_struct_schema(self, spark, tables):
        from datasketches_spark_spark.operators import with_payload
        df = with_payload(tables["documents"].limit(1), "text")
        meta = df.select("meta.*").collect()[0]
        assert meta.modality == "text"
        assert meta.codec == "utf-8"
        assert meta.num_bytes > 0
        assert dict(df.dtypes)["payload"] == "binary"


class TestIVF:
    def test_ivf_trainer_collect_is_capped(self, spark, tables):
        """The driver-side training collect must honor max_train regardless
        of sample_fraction — the scan feeding collect() carries a limit."""
        from datasketches_spark_spark.operators.similarity import (
            train_ivf_centroids)
        emb = tables["embeddings"]
        cents = train_ivf_centroids(emb, num_cells=4, iters=2, max_train=16)
        assert cents.shape[0] == 4
        import pytest as _pt
        with _pt.raises(ValueError, match="max_train"):
            train_ivf_centroids(emb, num_cells=8, max_train=4)

    def test_ivf_assign_covers_all(self, spark, tables):
        from datasketches_spark_spark.operators import (
            ivf_assign, train_ivf_centroids)
        emb = tables["embeddings"]
        cents = train_ivf_centroids(emb, num_cells=8, iters=5)
        assert cents.shape == (8, 64)
        cells = ivf_assign(emb, cents)
        assert cells.count() == emb.count()
        assert cells.select("cell").distinct().count() > 1

    def test_ivf_topk_recall_and_full_probe_exact(self, spark, tables):
        from datasketches_spark_spark.operators import (
            cosine_topk, ivf_ann_topk, train_ivf_centroids)
        emb = tables["embeddings"]
        qs = [(r.vec_id, r.embedding)
              for r in emb.where("vec_id < 10").collect()]
        exact = {(r.query_id, r.neighbor_id)
                 for r in cosine_topk(emb, qs, k=5).collect()}
        cents = train_ivf_centroids(emb, num_cells=8, iters=5)
        # probing ALL cells == brute force (sanity: re-rank is exact)
        full = {(r.query_id, r.neighbor_id)
                for r in ivf_ann_topk(emb, qs, cents, k=5,
                                      nprobe=8).collect()}
        assert full == exact
        # partial probe: approximate but non-trivial recall
        part = {(r.query_id, r.neighbor_id)
                for r in ivf_ann_topk(emb, qs, cents, k=5,
                                      nprobe=4).collect()}
        assert len(exact & part) / len(exact) >= 0.5


class TestWinnowing:
    def test_fingerprints_shift_invariant(self, spark):
        from datasketches_spark_spark.operators import winnow_fingerprints
        text = "the quick brown fox jumps over the lazy dog " * 3
        df = spark.createDataFrame(
            [(1, text), (2, "PREFIX-123 " + text), (3, "totally different "
              "content with no overlap whatsoever in characters")],
            ["doc_id", "text"])
        fps = {r._id: set(r.fingerprints) for r in
               winnow_fingerprints(df, "doc_id", "text").collect()}
        # winnowing guarantees shared substrings yield shared fingerprints
        overlap_12 = len(fps[1] & fps[2]) / len(fps[1])
        overlap_13 = len(fps[1] & fps[3]) / len(fps[1])
        assert overlap_12 > 0.8
        assert overlap_13 < 0.2

    def test_winnow_dedup_pairs(self, spark, tables):
        from datasketches_spark_spark.operators import winnow_dedup_pairs
        docs = tables["documents"]
        pairs = winnow_dedup_pairs(docs, "doc_id", "text",
                                   min_overlap=0.5).collect()
        assert all(p.id_a < p.id_b for p in pairs)
        assert all(p.overlap >= 0.5 for p in pairs)
        n_docs = docs.count()
        assert 0 < len(pairs) < n_docs * 3  # near-dups, not all-pairs soup


class TestSubwordCount:
    def test_bpe_ish_counts(self, spark):
        from datasketches_spark_spark.functions.text import subword_token_count
        df = spark.createDataFrame(
            [("hello world",),      # "hello" + " world" = 2
             ("it's 42 degrees!",),  # it + 's + " 42" + " degrees" + "!" = 5
             ("",)], ["text"])
        got = [r.n for r in df.select(
            subword_token_count("text").alias("n")).collect()]
        assert got == [2, 5, 0]


class TestMultimodalTransforms:
    def test_resize_fake_deterministic(self, spark, tables):
        from datasketches_spark_spark.operators import (
            resize_images, with_payload)
        docs = with_payload(tables["documents"].limit(10), "text")
        out = resize_images(docs, "doc_id", width=16, height=8).collect()
        assert len(out) == 10
        for r in out:
            assert len(bytes(r.payload)) == 16 * 8
            assert (r.width, r.height) == (16, 8)

    def test_resize_with_injected_codec(self, spark, tables):
        from datasketches_spark_spark.operators import (
            resize_images, with_payload)
        docs = with_payload(tables["documents"].limit(3), "text")
        out = resize_images(
            docs, "doc_id", width=4, height=4,
            codec=lambda b: b.upper(),
            resizer=lambda img, w, h: img[: w * h]).collect()
        assert all(bytes(r.payload) == bytes(r.payload).upper() for r in out)

    def test_sample_frames_explodes_rows(self, spark, tables):
        from datasketches_spark_spark.operators import (
            sample_frames, with_payload)
        docs = with_payload(tables["documents"].limit(5), "text")
        out = sample_frames(docs, "doc_id", num_frames=4).collect()
        assert len(out) == 5 * 4
        by_doc = {}
        for r in out:
            by_doc.setdefault(r.doc_id, []).append(r.frame_idx)
        assert all(sorted(v) == [0, 1, 2, 3] for v in by_doc.values())


class TestEmbeddingPrep:
    def test_quantize_roundtrip_within_half_step(self, spark, tables):
        from datasketches_spark_spark.functions import (
            dequantize_int8, quantize_int8)
        emb = tables["embeddings"].limit(200)
        qz = quantize_int8("embedding")
        err = F.array_max(F.zip_with(
            F.col("embedding").cast("array<double>"),
            dequantize_int8(F.col("_qz")),
            lambda a, b: F.abs(a - b)))
        rows = (emb.withColumn("_qz", qz)
                .select("vec_id", F.col("_qz.scale").alias("scale"),
                        err.alias("max_err"))
                .collect())
        assert rows
        for r in rows:
            # half-up rounding: each element within half a quantization
            # step (tiny float slack for the fold ordering)
            assert r.max_err <= r.scale / 2 + 1e-12, r

    def test_quantize_codes_in_int8_range(self, spark, tables):
        from datasketches_spark_spark.functions import quantize_int8
        emb = tables["embeddings"].limit(200)
        bad = (emb.select(quantize_int8("embedding").alias("s"))
               .where(F.exists(
                   "s.q", lambda x: (x > 127) | (x < -127)))
               .count())
        assert bad == 0

    def test_l2_normalize_unit_norm_and_zero_passthrough(self, spark):
        from datasketches_spark_spark.functions import l2_normalize
        df = spark.createDataFrame(
            [(1, [3.0, 4.0]), (2, [0.0, 0.0])], "id long, v array<double>")
        rows = {r.id: (r.n, r.norm) for r in df.select(
            "id", l2_normalize("v").alias("n"),
            F.sqrt(F.aggregate(l2_normalize("v"), F.lit(0.0),
                               lambda a, x: a + x * x)).alias("norm"))
            .collect()}
        assert rows[1][0] == [0.6, 0.8] and abs(rows[1][1] - 1.0) < 1e-12
        assert rows[2][0] == [0.0, 0.0] and rows[2][1] == 0.0  # no NaNs


class TestEmbeddingSqlSurface:
    def test_sql_functions_match_dataframe_api(self, spark, tables):
        """The SQL-defined functions must agree bit-for-bit with the
        Column builders (same codegen expressions, both surfaces)."""
        import datasketches_spark_spark as dss
        from datasketches_spark_spark.functions import quantize_int8
        dss.install(spark)
        tables["embeddings"].limit(50).createOrReplaceTempView("_emb50")
        got = spark.sql("""
            SELECT vec_id, q.scale AS scale, q.q AS codes,
                   dequantize_int8(q) AS deq
            FROM (SELECT vec_id,
                         quantize_int8(CAST(embedding AS ARRAY<DOUBLE>)) AS q
                  FROM _emb50)
            ORDER BY vec_id""").collect()
        ref = (tables["embeddings"].limit(50)
               .select("vec_id", quantize_int8("embedding").alias("z"))
               .select("vec_id", F.col("z.scale").alias("scale"),
                       F.col("z.q").alias("codes"))
               .orderBy("vec_id").collect())
        assert len(got) == len(ref) == 50
        for g, r in zip(got, ref):
            assert g.vec_id == r.vec_id and g.scale == r.scale
            assert list(g.codes) == list(r.codes)
            assert len(g.deq) == len(g.codes)

    def test_sql_l2_normalize(self, spark):
        import datasketches_spark_spark as dss
        dss.install(spark)
        (row,) = spark.sql(
            "SELECT l2_normalize(array(3.0D, 4.0D)) AS n, "
            "l2_normalize(array(0.0D, 0.0D)) AS z").collect()
        assert row.n == [0.6, 0.8] and row.z == [0.0, 0.0]


class TestManyGroupsSkewStress:
    """The engine's central 100 TB claim, stress-tested: the two-phase
    operator must hold >=1e5 distinct group keys plus one pathological hot
    key with per-executor memory bounded by ``max_groups`` flushes
    (``operators/sketch_agg.py::sketch_partial:318``), and the flushed
    partials must re-merge to results identical to the unflushed path.
    Reference physics being reproduced: ``quantileSketches.scala:234-273``
    (TypedImperativeAggregate partial/final with serialize-at-shuffle)."""

    N_GROUPS = 120_000
    ROWS_PER_GROUP = 4
    HOT_ROWS = 160_000
    MAX_GROUPS = 20_000  # << N_GROUPS: forces repeated mid-partition flushes

    @pytest.fixture(scope="class")
    def skewed(self, spark):
        # 120k tiny groups (4 rows each) + one hot key (-1) with 160k rows.
        # Round-robin repartition alone would CONCATENATE the union legs —
        # all hot rows arriving in a partition's final Arrow batches, after
        # the last max_groups flush — so sortWithinPartitions(hash(v))
        # deterministically interleaves hot and tiny rows through every
        # batch: the worst case for the live-sketch dict, and the shape
        # that makes the hot key span multiple flush segments.
        base = (spark.range(self.N_GROUPS * self.ROWS_PER_GROUP)
                .select((F.col("id") % self.N_GROUPS).alias("g"),
                        F.col("id").cast("double").alias("v")))
        hot = (spark.range(self.HOT_ROWS)
               .select(F.lit(-1).cast("long").alias("g"),
                       (F.col("id") % 1000).cast("double").alias("v")))
        df = (base.unionAll(hot).repartition(8)
              .sortWithinPartitions(F.hash("v")))
        df = df.cache()
        df.count()
        yield df
        df.unpersist()

    N_PARTITIONS = 8

    def test_flushes_actually_happen(self, spark, skewed):
        from datasketches_spark_spark.operators import sketch_partial
        partial = sketch_partial(skewed, ["g"], "v", family="theta",
                                 k=4096, max_groups=self.MAX_GROUPS)
        counts = partial.groupBy("g").count()
        # Each partition holds far more distinct keys (~60k of the 120k tiny
        # groups, 4-row groups spread round-robin) than max_groups=20k, so
        # the live-sketch dict MUST flush at least twice per partition, and
        # the hot key — interleaved through every flush segment of every
        # partition — must emit more states than a no-flush run possibly
        # could (<= 1 per partition = 8). One state per partition is exactly
        # what a max_groups-ignoring implementation would produce; strictly
        # more proves mid-partition flushes fired.
        hot_states = counts.where(F.col("g") == -1).collect()[0]["count"]
        assert hot_states > self.N_PARTITIONS, \
            f"hot key emitted {hot_states} states <= {self.N_PARTITIONS} " \
            "partitions: max_groups flushes did not fire"
        assert partial.count() > self.N_GROUPS + 1

    def test_accumulate_parity_and_runtime(self, spark, skewed):
        import time
        from datasketches_spark_spark import functions as dsf
        from datasketches_spark_spark.operators import sketch_accumulate
        t0 = time.monotonic()
        accum = sketch_accumulate(skewed, ["g"], "v", family="theta",
                                  k=4096, max_groups=self.MAX_GROUPS)
        got = accum.select(
            "g", dsf.approx_count_distinct_estimate("state").alias("ndv"))
        exact = skewed.groupBy("g").agg(
            F.countDistinct("v").alias("ndv"))
        # distributed comparison; no 120k-row driver collect
        assert got.exceptAll(exact).count() == 0
        assert exact.exceptAll(got).count() == 0
        # runaway guard only — NOT a perf gate (machine-dependent; the
        # benchmark owns timing)
        elapsed = time.monotonic() - t0
        assert elapsed < 300, f"accumulate stress took {elapsed:.1f}s"

    def test_grouped_agg_flush_equals_noflush(self, spark, skewed):
        import time
        from datasketches_spark_spark.operators import (
            distinct_measure, percentile_measure, sketch_grouped_agg)
        t0 = time.monotonic()
        measures = lambda: (  # noqa: E731
            percentile_measure("p50", "v", 0.5, impl="KLL"),
            distinct_measure("ndv", "v", k=4096))
        flushed = sketch_grouped_agg(skewed, ["g"], *measures(),
                                     max_groups=self.MAX_GROUPS).cache()
        unflushed = sketch_grouped_agg(skewed, ["g"], *measures(),
                                       max_groups=10**9).cache()
        try:
            assert flushed.count() == self.N_GROUPS + 1
            # Tiny groups (4 rows each) are genuinely exact-regime for BOTH
            # measures — a 4-update default-k KLL never compacts and a
            # k=4096 theta holds <=4 distinct hashes exactly — so any flush
            # merge tree must reproduce the unflushed rows bit-for-bit.
            tiny_f = flushed.where(F.col("g") != -1)
            tiny_u = unflushed.where(F.col("g") != -1)
            assert tiny_f.exceptAll(tiny_u).count() == 0
            assert tiny_u.exceptAll(tiny_f).count() == 0
            # The hot key's 160k updates are far past the exact regime at
            # default KLL k, and KLL merge is NOT merge-order invariant —
            # flushing changes the merge tree, so bit-equality is the wrong
            # contract. The right one: both paths land within KLL's
            # normalized rank-error bound of the true p50 (values are
            # id % 1000 uniform, so true p50 = 499..500; k=200 rank error
            # ~1.65%, assert 3x margin). ndv stays exact: 1000 < k=4096.
            hot_f = flushed.where(F.col("g") == -1).collect()[0]
            hot_u = unflushed.where(F.col("g") == -1).collect()[0]
            for row in (hot_f, hot_u):
                assert abs(row["p50"] - 499.5) <= 0.05 * 1000, row
                assert row["ndv"] == 1000, row
        finally:
            flushed.unpersist()
            unflushed.unpersist()
        # runaway guard only — NOT a perf gate (machine-dependent; the
        # benchmark owns timing)
        elapsed = time.monotonic() - t0
        assert elapsed < 300, f"grouped-agg stress took {elapsed:.1f}s"

    def test_merge_straddles_arrow_batches(self, spark, skewed):
        # Arrow batches far smaller than a partition: in the sorted phase-2
        # pass, groups (the hot key's ~hundreds of partial states above
        # all) straddle batch boundaries, and the group open at a boundary
        # must carry over — one output row per key, answers unchanged.
        from datasketches_spark_spark import functions as dsf
        from datasketches_spark_spark.operators import sketch_accumulate
        key = "spark.sql.execution.arrow.maxRecordsPerBatch"
        old = spark.conf.get(key)
        spark.conf.set(key, "997")
        try:
            got = sketch_accumulate(
                skewed, ["g"], "v", family="theta", k=4096,
                max_groups=self.MAX_GROUPS,
            ).select("g", dsf.approx_count_distinct_estimate("state")
                     .alias("ndv")).cache()
            assert got.count() == self.N_GROUPS + 1
            assert got.select("g").distinct().count() == self.N_GROUPS + 1
            exact = skewed.groupBy("g").agg(F.countDistinct("v").alias("ndv"))
            assert got.exceptAll(exact).count() == 0
            assert exact.exceptAll(got).count() == 0
            got.unpersist()
        finally:
            spark.conf.set(key, old)


class TestImageCodec:
    """Pure-numpy PPM/BMP codec: round-trips, header edge cases, the
    resize->feature path, and honest stubs for compressed formats."""

    def _img(self, h=5, w=7, seed=3):
        rng = np.random.RandomState(seed)
        return rng.randint(0, 256, size=(h, w, 3), dtype=np.uint8)

    def test_ppm_roundtrip(self):
        from datasketches_spark_spark.operators import (decode_image,
                                                        encode_ppm)
        img = self._img()
        assert np.array_equal(decode_image(encode_ppm(img)), img)

    def test_pgm_grayscale_roundtrip(self):
        from datasketches_spark_spark.operators import (decode_image,
                                                        encode_ppm)
        gray = self._img()[:, :, :1]
        out = decode_image(encode_ppm(gray))
        assert out.shape == gray.shape and np.array_equal(out, gray)

    def test_ppm_comments_and_16bit(self):
        from datasketches_spark_spark.operators.imagecodec import decode_ppm
        img = np.array([[[0, 128, 255]]], dtype=np.uint8)
        data = b"P6\n# a comment\n1 1\n# more\n255\n" + img.tobytes()
        assert np.array_equal(decode_ppm(data), img)
        # 16-bit maxval scales down to uint8
        px16 = np.array([0, 32768, 65535], dtype=">u2").tobytes()
        out = decode_ppm(b"P6\n1 1\n65535\n" + px16)
        assert out.ravel().tolist() == [0, 128, 255]

    def test_bmp_roundtrip_and_padding(self):
        from datasketches_spark_spark.operators import (decode_image,
                                                        encode_bmp)
        # w=7 -> 21-byte rows padded to 24: exercises stride logic
        img = self._img(h=3, w=7)
        assert np.array_equal(decode_image(encode_bmp(img)), img)

    def test_bmp_32bit_and_topdown(self):
        import struct
        from datasketches_spark_spark.operators.imagecodec import decode_bmp
        # hand-build a 2x1 top-down 32-bit BMP: pixels BGRA
        px = bytes([10, 20, 30, 0, 40, 50, 60, 0])
        data = (b"BM" + struct.pack("<IHHI", 54 + len(px), 0, 0, 54)
                + struct.pack("<IiiHHIIiiII", 40, 2, -1, 1, 32, 0,
                              len(px), 0, 0, 0, 0) + px)
        out = decode_bmp(data)
        assert out.shape == (1, 2, 3)
        assert out[0, 0].tolist() == [30, 20, 10]  # BGR -> RGB
        assert out[0, 1].tolist() == [60, 50, 40]

    def test_compressed_formats_stay_stubbed(self):
        # JPEG/PNG/GIF decode since round 8, lossless WebP since round 9
        # (jpegcodec/pngcodec/gifcodec/webpcodec); formats without a
        # codec (mp4, lossy VP8) still refuse by name, and truncated
        # decodable formats are ValueErrors, never silent fallbacks
        import struct
        from datasketches_spark_spark.operators import decode_image
        from datasketches_spark_spark.operators.webpnative import (
            libwebp_available)
        with pytest.raises(NotImplementedError):
            decode_image(b"\x00\x00\x00\x18ftypmp42" + b"\x00" * 8)
        lossy = b"WEBP" + b"VP8 " + struct.pack("<I", 4) + b"\x00" * 4
        blob = b"RIFF" + struct.pack("<I", len(lossy)) + lossy
        if libwebp_available():
            # round 13: the VP8 branch decodes through the system
            # libwebp — a 4-byte stream is corrupt, not unimplemented
            with pytest.raises(ValueError):
                decode_image(blob)
        else:
            with pytest.raises(NotImplementedError, match="lossy VP8"):
                decode_image(blob)
        for magic in (b"\x89PNG\r\n\x1a\n", b"\xff\xd8\xff\xe0",
                      b"GIF89a", b"RIFF\x10\x00\x00\x00WEBP"):
            with pytest.raises(ValueError):
                decode_image(magic + b"\x00" * 16)

    def test_resize_nearest_solid_and_shape(self):
        from datasketches_spark_spark.operators import resize_nearest
        solid = np.full((8, 4, 3), 77, dtype=np.uint8)
        out = resize_nearest(solid, 2, 4)
        assert out.shape == (4, 2, 3) and (out == 77).all()
        # identity resize is exact
        img = self._img(4, 4)
        assert np.array_equal(resize_nearest(img, 4, 4), img)

    def test_spark_resize_real_path_and_features(self, spark):
        from datasketches_spark_spark.operators import (
            encode_ppm, extract_image_features, resize_images)
        import pandas as pd  # noqa: F401
        rows = [(i, bytearray(encode_ppm(
            np.full((4, 8, 3), [i, 2 * i, 7], dtype=np.uint8))))
            for i in range(6)]
        df = spark.createDataFrame(rows, "doc_id int, payload binary")
        resized = resize_images(df, "doc_id", width=4, height=2)
        feats = extract_image_features(resized, "doc_id")
        got = {r.doc_id: r for r in feats.collect()}
        assert len(got) == 6
        for i, r in got.items():
            assert (r.width, r.height, r.channels) == (4, 2, 3)
            assert (r.mean_r, r.mean_g, r.mean_b) == (i, 2 * i, 7)

    def test_decode_payload_builtin_codec(self):
        from datasketches_spark_spark.operators import encode_ppm
        from datasketches_spark_spark.operators.multimodal import (
            decode_payload)
        img = self._img(2, 2)
        assert np.array_equal(decode_payload(encode_ppm(img), "image"), img)


class TestAudioCodec:
    """Pure-numpy RIFF/WAVE PCM codec: round-trips, chunk walking,
    float formats, features, and honest stubs for compressed tags."""

    def _sine(self, n=800, rate=8000, ch=1):
        t = np.arange(n) / rate
        x = 0.5 * np.sin(2 * np.pi * 440 * t)
        return np.tile(x[:, None], (1, ch)), rate

    def test_pcm16_roundtrip(self):
        from datasketches_spark_spark.operators import decode_wav, encode_wav
        x, rate = self._sine()
        y, r2 = decode_wav(encode_wav(x, rate))
        assert r2 == rate and y.shape == x.shape
        assert np.abs(y - x).max() <= 1.0 / 32768  # 16-bit quantization

    def test_pcm8_and_stereo(self):
        from datasketches_spark_spark.operators import decode_wav, encode_wav
        x, rate = self._sine(ch=2)
        y, _ = decode_wav(encode_wav(x, rate, bits=8))
        assert y.shape == x.shape
        assert np.abs(y - x).max() <= 1.0 / 128

    def test_float32_wav_and_unknown_chunks(self):
        import struct
        from datasketches_spark_spark.operators import decode_wav
        x = np.array([0.0, 0.25, -0.5], dtype=np.float32)
        body = x.tobytes()
        # fmt tag 3 (IEEE float) + a LIST chunk the walker must skip
        hdr = (b"WAVE"
               + b"LIST" + struct.pack("<I", 4) + b"INFO"
               + b"fmt " + struct.pack("<IHHIIHH", 16, 3, 1, 4000,
                                       16000, 4, 32)
               + b"data" + struct.pack("<I", len(body)) + body)
        data = b"RIFF" + struct.pack("<I", 4 + len(hdr)) + hdr
        y, rate = decode_wav(data)
        assert rate == 4000 and y.ravel().tolist() == [0.0, 0.25, -0.5]

    def test_compressed_tags_stay_stubbed(self):
        import struct
        from datasketches_spark_spark.operators import decode_wav
        for tag in (2, 85):  # ADPCM, MP3
            hdr = (b"WAVE" + b"fmt " + struct.pack(
                "<IHHIIHH", 16, tag, 1, 8000, 8000, 1, 8)
                + b"data" + struct.pack("<I", 0))
            with pytest.raises(NotImplementedError):
                decode_wav(b"RIFF" + struct.pack("<I", 4 + len(hdr)) + hdr)
        # EXTENSIBLE with a fmt chunk too short for its GUID is corrupt
        hdr = (b"WAVE" + b"fmt " + struct.pack(
            "<IHHIIHH", 16, 0xFFFE, 1, 8000, 8000, 1, 8)
            + b"data" + struct.pack("<I", 0))
        with pytest.raises(ValueError):
            decode_wav(b"RIFF" + struct.pack("<I", 4 + len(hdr)) + hdr)
        with pytest.raises(ValueError):
            decode_wav(b"not audio at all")

    def test_extensible_resolves_subformat(self):
        """WAVE_FORMAT_EXTENSIBLE (round 8): PCM SubFormat GUID decodes
        like plain PCM; a compressed SubFormat still refuses by name."""
        import struct
        import numpy as np
        from datasketches_spark_spark.operators import decode_wav, encode_wav
        x = np.round(np.sin(np.arange(300) * 0.2) * 16384) / 32768
        wav = bytearray(encode_wav(x, 8000))
        i = bytes(wav).index(b"fmt ")
        (old_size,) = struct.unpack_from("<I", wav, i + 4)
        fmt = struct.unpack_from("<HHIIHH", wav, i + 8)

        def extensible(sub_tag):
            ext = (struct.pack("<HHIIHH", 0xFFFE, *fmt[1:])
                   + struct.pack("<HHI", 22, fmt[5], 0x4)
                   + struct.pack("<H", sub_tag) + b"\x00\x00"
                   + bytes.fromhex("00001000800000aa00389b71"))
            out = bytearray(bytes(wav[:i]) + b"fmt "
                            + struct.pack("<I", len(ext)) + ext
                            + bytes(wav[i + 8 + old_size:]))
            struct.pack_into("<I", out, 4, len(out) - 8)
            return bytes(out)

        dec, rate = decode_wav(extensible(1))  # PCM GUID
        assert rate == 8000
        assert float(np.abs(dec[:, 0] - x).max()) == 0.0
        with pytest.raises(NotImplementedError):
            decode_wav(extensible(2))  # ADPCM GUID

    def test_features_square_wave_exact(self):
        from datasketches_spark_spark.operators import (audio_features,
                                                        decode_wav,
                                                        encode_wav)
        # dyadic amplitude k/128 survives int16 round-trip bit-exactly,
        # so RMS == amplitude and ZCR == 1.0 exactly (the q39 oracle trick)
        a = 5 / 128
        n = 120
        x = np.where(np.arange(n) % 2 == 0, a, -a)
        y, rate = decode_wav(encode_wav(x, 8000))
        f = audio_features(y, rate)
        assert f["rms"] == a and f["peak"] == a
        assert f["zero_cross_rate"] == 1.0
        assert f["n_frames"] == n and f["duration_s"] == n / 8000

    def test_resample_nearest(self):
        from datasketches_spark_spark.operators import resample_nearest
        x, rate = self._sine(n=800)
        y = resample_nearest(x, rate, 4000)
        assert y.shape[0] == 400

    def test_spark_audio_features(self, spark):
        from datasketches_spark_spark.operators import (
            encode_wav, extract_audio_features)
        rows = []
        for i in range(5):
            a = (i + 1) / 128
            n = 100 + i
            x = np.where(np.arange(n) % 2 == 0, a, -a)
            rows.append((i, bytearray(encode_wav(x, 8000))))
        df = spark.createDataFrame(rows, "doc_id int, payload binary")
        got = {r.doc_id: r for r in
               extract_audio_features(df, "doc_id").collect()}
        assert len(got) == 5
        for i, r in got.items():
            assert r.rms == (i + 1) / 128
            assert r.n_frames == 100 + i
            assert r.zero_cross_rate == 1.0
            assert r.sample_rate == 8000


class TestPayloadKeepCols:
    def test_keep_cols_rides_through_and_avoids_join(self, spark):
        """keep_cols carries narrow columns through the Python stage; the
        plan must contain NO join and only one scan of the source."""
        from datasketches_spark_spark.operators import (
            encode_ppm, extract_image_features)
        rows = [(i, f"s{i % 2}", bytearray(encode_ppm(
            np.full((2, 2, 3), i, dtype=np.uint8)))) for i in range(6)]
        df = spark.createDataFrame(rows,
                                   "doc_id int, source string, payload binary")
        feats = extract_image_features(df, "doc_id", keep_cols=["source"])
        got = {(r.doc_id, r.source, r.mean_r) for r in feats.collect()}
        assert got == {(i, f"s{i % 2}", float(i)) for i in range(6)}
        plan = feats._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan


class TestNgramJaccard:
    """ngram_jaccard_pairs is EXACT: output must equal a brute-force
    all-pairs Jaccard over distinct word n-gram sets."""

    CORPUS = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy cat"),
        (3, "the quick brown fox leaps over the lazy dog"),
        (4, "completely different text with no overlap at all here"),
        (5, "completely different text with no overlap at all there"),
        (6, "short doc"),
        (7, "short doc"),
        (8, "a b c d e f g h i j k l m n o p q r s t"),
        (9, "a b c d e f g h i j k l m n o p q r s t u v"),
        (10, "the quick brown fox jumps over the lazy dog"),
    ]

    @staticmethod
    def _brute(corpus, t, n):
        def grams(text):
            toks = text.split()
            return {" ".join(toks[i:i + n])
                    for i in range(len(toks) - n + 1)}
        out = []
        for i, (ida, ta) in enumerate(corpus):
            for idb, tb in corpus[i + 1:]:
                sa, sb = grams(ta), grams(tb)
                if not sa or not sb:
                    continue
                j = len(sa & sb) / len(sa | sb)
                if j >= t:
                    out.append((min(ida, idb), max(ida, idb), round(j, 9)))
        return sorted(out)

    @pytest.mark.parametrize("threshold,n", [(0.5, 2), (0.7, 2), (0.3, 3),
                                             (1.0, 2)])
    def test_matches_bruteforce(self, spark, threshold, n):
        from datasketches_spark_spark.operators import ngram_jaccard_pairs
        df = spark.createDataFrame(self.CORPUS, ["doc_id", "text"])
        got = sorted((r.id_a, r.id_b, round(r.jaccard, 9))
                     for r in ngram_jaccard_pairs(
                         df, "doc_id", "text", threshold=threshold,
                         ngram_n=n).collect())
        assert got == self._brute(self.CORPUS, threshold, n)

    def test_short_docs_never_pair(self, spark):
        # docs with < n tokens have empty n-gram sets: excluded, not error
        from datasketches_spark_spark.operators import ngram_jaccard_pairs
        df = spark.createDataFrame(
            [(1, "one"), (2, "one"), (3, "one two three")],
            ["doc_id", "text"])
        got = ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.1,
                                  ngram_n=2).collect()
        assert got == []

    def test_bad_threshold_raises(self, spark):
        from datasketches_spark_spark.operators import ngram_jaccard_pairs
        df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
        with pytest.raises(ValueError):
            ngram_jaccard_pairs(df, "doc_id", "text", threshold=0.0)
        with pytest.raises(ValueError):
            ngram_jaccard_pairs(df, "doc_id", "text", threshold=1.5)


class TestConnectedComponents:
    def _labels(self, spark, edges, **kw):
        from datasketches_spark_spark.operators import connected_components
        df = spark.createDataFrame(edges, ["id_a", "id_b"])
        return {r.id: r.comp
                for r in connected_components(df, **kw).collect()}

    def test_chain_cycle_and_pair(self, spark):
        got = self._labels(spark, [(1, 2), (2, 3), (3, 4),   # chain
                                   (5, 6), (6, 7), (7, 5),   # cycle
                                   (9, 8)])                  # reversed pair
        assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                       5: 5, 6: 5, 7: 5, 8: 8, 9: 8}

    def test_long_path_converges(self, spark):
        # 64-node path: worst case for naive propagation (diameter 63);
        # pointer jumping must close it well inside max_iter
        got = self._labels(spark, [(i, i + 1) for i in range(1, 64)],
                           max_iter=12)
        assert set(got.values()) == {1}
        assert len(got) == 64

    def test_groups_from_pairs(self, spark):
        from datasketches_spark_spark.operators import dedup_groups_from_pairs
        df = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
            ["id_a", "id_b"])
        got = {(r.component_id, r.n_docs)
               for r in dedup_groups_from_pairs(df).collect()}
        assert got == {(1, 3), (10, 2), (20, 3)}


class TestMinhashMatch:
    def test_query_vs_corpus_matches_exact(self, spark):
        from datasketches_spark_spark.operators import minhash_match
        base = ("alpha beta gamma delta epsilon zeta eta theta iota kappa "
                "lam mu nu xi omicron pi rho sigma tau upsilon")
        near = base.replace("pi rho", "pi zzz rho")
        far = ("one two three four five six seven eight nine ten eleven "
               "twelve thirteen fourteen")
        corpus = spark.createDataFrame(
            [(101, base), (102, far)], ["doc_id", "text"])
        queries = spark.createDataFrame(
            [(1, near), (2, "unrelated words entirely here and there and "
                            "more of them to shingle properly")],
            ["doc_id", "text"])
        got = [(r.query_id, r.corpus_id, r.jaccard)
               for r in minhash_match(queries, corpus, "doc_id", "text",
                                      threshold=0.3).collect()]
        assert [(q, c) for q, c, _ in got] == [(1, 101)]
        assert 0.3 <= got[0][2] < 1.0

    def test_mega_bucket_dropped(self, spark):
        # 50 identical corpus docs = one mega bucket per band; cap at 10
        # drops them all, so the query finds nothing (and does not blow up)
        from datasketches_spark_spark.operators import minhash_match
        text = ("the same boilerplate text repeated in every mirror copy "
                "of this page across the whole crawl for a while longer")
        corpus = spark.createDataFrame(
            [(i, text) for i in range(50)], ["doc_id", "text"])
        queries = spark.createDataFrame([(999, text)], ["doc_id", "text"])
        got = minhash_match(queries, corpus, "doc_id", "text",
                            threshold=0.5, max_bucket=10).collect()
        assert got == []


class TestNgramJaccardRandomized:
    """Seeded random corpora (small vocab => dense overlap, the prefix
    filter's worst case) must still match brute force exactly."""

    @pytest.mark.parametrize("seed,threshold,n", [(7, 0.5, 2), (11, 0.7, 3),
                                                  (13, 0.4, 2)])
    def test_random_corpus_matches_bruteforce(self, spark, seed, threshold,
                                              n):
        import random
        from datasketches_spark_spark.operators import ngram_jaccard_pairs
        rng = random.Random(seed)
        vocab = [f"w{i}" for i in range(12)]
        corpus = [(i, " ".join(rng.choice(vocab)
                               for _ in range(rng.randint(1, 30))))
                  for i in range(40)]
        df = spark.createDataFrame(corpus, ["doc_id", "text"])
        got = sorted((r.id_a, r.id_b, round(r.jaccard, 9))
                     for r in ngram_jaccard_pairs(
                         df, "doc_id", "text", threshold=threshold,
                         ngram_n=n).collect())
        assert got == TestNgramJaccard._brute(corpus, threshold, n)


class TestDedupDropList:
    def test_lowest_id_survives_without_preference(self, spark):
        from datasketches_spark_spark.operators import dedup_drop_list
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
        df = spark.createDataFrame(
            [(i, 0) for i in (1, 2, 3, 10, 11, 99)], ["doc_id", "x"])
        got = sorted(r.doc_id for r in
                     dedup_drop_list(df, pairs, "doc_id").collect())
        assert got == [2, 3, 11]   # 1 and 10 survive; 99 untouched

    def test_preference_picks_best_member(self, spark):
        from datasketches_spark_spark.operators import dedup_drop_list
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (10, 11)], ["id_a", "id_b"])
        df = spark.createDataFrame(
            [(1, 5.0), (2, 9.0), (3, 9.0), (10, 1.0), (11, 4.0), (99, 0.0)],
            ["doc_id", "quality"])
        got = sorted(r.doc_id for r in dedup_drop_list(
            df, pairs, "doc_id", prefer_col="quality").collect())
        # comp {1,2,3}: best quality 9.0 tie -> lowest id 2 survives
        # comp {10,11}: 11 survives (4.0 > 1.0)
        assert got == [1, 3, 10]


class TestDecontamination:
    def test_flags_match_bruteforce(self, spark):
        from datasketches_spark_spark.operators import ngram_overlap_flags
        corpus = [
            (1, "the quick brown fox jumps over the lazy dog today"),
            (2, "completely unrelated content with no benchmark overlap"),
            (3, "the quick brown fox naps all day long instead"),
        ]
        bench = [(100, "somebody saw the quick brown fox jumps high")]
        c = spark.createDataFrame(corpus, ["doc_id", "text"])
        b = spark.createDataFrame(bench, ["doc_id", "text"])
        got = {(r.doc_id, r.n_hits) for r in ngram_overlap_flags(
            c, b, "doc_id", "text", ngram_n=4).collect()}
        # bench 4-grams include 'the quick brown fox' and
        # 'quick brown fox jumps': doc 1 shares both, doc 3 shares one
        assert got == {(1, 2), (3, 1)}
        got2 = {r.doc_id for r in ngram_overlap_flags(
            c, b, "doc_id", "text", ngram_n=4, min_hits=2).collect()}
        assert got2 == {1}

    def test_clean_corpus_flags_nothing(self, spark):
        from datasketches_spark_spark.operators import ngram_overlap_flags
        c = spark.createDataFrame([(1, "a b c d e f")], ["doc_id", "text"])
        b = spark.createDataFrame([(2, "g h i j k l")], ["doc_id", "text"])
        assert ngram_overlap_flags(c, b, "doc_id", "text",
                                   ngram_n=3).collect() == []


class TestNearestReference:
    def test_matches_bruteforce_and_tie_break(self, spark):
        import numpy as np
        from pyspark.sql import Row
        from datasketches_spark_spark.operators import nearest_reference
        ref = spark.createDataFrame(
            [Row(vec_id=10, embedding=[1.0, 0.0]),
             Row(vec_id=20, embedding=[0.0, 1.0]),
             # same direction as vec 10 -> exact tie; smaller id wins
             Row(vec_id=5, embedding=[2.0, 0.0])])
        corpus = spark.createDataFrame(
            [Row(vec_id=1, embedding=[3.0, 0.1]),   # nearest: x-axis
             Row(vec_id=2, embedding=[0.1, 9.0]),   # nearest: y-axis
             Row(vec_id=3, embedding=[1.0, 0.0])])  # exact tie 5 vs 10
        got = {r.vec_id: r.ref_id
               for r in nearest_reference(corpus, ref).collect()}
        assert got == {1: 5, 2: 20, 3: 5}

    def test_no_shuffle_plan(self, spark):
        from pyspark.sql import Row
        from datasketches_spark_spark.operators import nearest_reference
        ref = spark.createDataFrame([Row(vec_id=1, embedding=[1.0, 0.0])])
        corpus = spark.createDataFrame([Row(vec_id=2, embedding=[1.0, 1.0])])
        out = nearest_reference(corpus, ref)
        plan = out._sc._jvm.PythonSQLUtils.explainString(
            out._jdf.queryExecution(), "formatted")
        assert "Exchange" not in plan

    def test_empty_and_oversized_reference(self, spark):
        import pytest
        from pyspark.sql import Row
        from datasketches_spark_spark.operators import nearest_reference
        corpus = spark.createDataFrame([Row(vec_id=1, embedding=[1.0])])
        empty = corpus.where("vec_id < 0")
        with pytest.raises(ValueError, match="empty"):
            nearest_reference(corpus, empty)
        from pyspark.sql import functions as F
        big = spark.range(5).select(
            (25 - F.col("id")).alias("vec_id"),
            F.array(F.lit(1.0)).alias("embedding"))
        with pytest.raises(ValueError, match="max_reference"):
            nearest_reference(corpus, big, max_reference=3)


def test_connected_components_giant_star_1m(spark):
    """Skewed-graph stress (round-9 stretch): ONE star component — node 0
    joined to 1M spokes, the boilerplate-duplicate worst case a real
    crawl produces. Diameter 2, so min-label propagation + pointer
    jumping must converge within max_iter=3 (one propagate round labels
    every spoke 0, one more proves quiescence) — O(log d), never O(d) —
    and the hot vertex (1M edges on one key) must flow through map-side
    partial min aggregation, not a single-task pairwise blowup. The wall
    guard pins the non-quadratic plan."""
    import time
    from datasketches_spark_spark.operators import connected_components
    edges = (spark.range(1, 1_000_001)
             .select(F.lit(0).alias("id_a"), F.col("id").alias("id_b")))
    t0 = time.time()
    labels = connected_components(edges, max_iter=3)
    agg = labels.agg(
        F.count("*").alias("n"),
        F.countDistinct("comp").alias("ncomp"),
        F.max("comp").alias("mx")).collect()[0]
    wall = time.time() - t0
    assert agg.n == 1_000_001         # hub + 1M spokes
    assert agg.ncomp == 1 and agg.mx == 0
    # a per-round O(E) plan does ~3 shuffle joins over 2M directed edges;
    # anything pairwise or O(d)-round would blow far past this
    assert wall < 120, f"giant-star components took {wall:.1f}s"


def test_rhp_plan_scales_bits_with_corpus_size():
    """Round-9 scale fix: the bits floor must grow ~log(n) so background
    collisions stay ~constant per vector per table, while the recall
    contract (per-pair miss) is preserved at every scale — and the
    recall budget must win (bits degrade) when the table cap binds."""
    import math
    from datasketches_spark_spark.operators.similarity import rhp_plan
    t, miss = 0.98, 1e-9
    p_bit = 1.0 - math.acos(t) / math.pi
    prev_bits = 0
    for n in (2_000, 20_000, 200_000):
        bits, tables = rhp_plan(t, per_pair_miss=miss, corpus_size=n,
                                bg_cosine=0.55)
        assert bits >= prev_bits          # floor grows with n
        prev_bits = bits
        # recall contract holds: miss probability <= budget
        p_table = p_bit ** bits
        assert (1 - p_table) ** tables <= miss * 1.0001
        # background collisions per vector per table stay bounded
        p_bg = 1.0 - math.acos(0.55) / math.pi
        assert n * (p_bg ** bits) < 2.0
    # without corpus_size the legacy plan is unchanged
    assert rhp_plan(t, per_pair_miss=miss) == rhp_plan(t)
    # giant n: the table cap binds and bits degrade, but recall holds
    bits, tables = rhp_plan(t, per_pair_miss=miss, corpus_size=10**9)
    assert tables <= 256
    assert (1 - p_bit ** bits) ** tables <= miss * 1.0001


def test_ngram_jaccard_max_gram_df_drops_boilerplate(spark):
    """The opt-in df cutoff (round-9 scale lever): pairs whose only
    overlap is corpus-wide boilerplate disappear by definition, true
    near-dups on distinctive content survive, and the capped result
    equals a scalar reference computing exact Jaccard over the sub-cap
    shingle sets."""
    from datasketches_spark_spark.operators import ngram_jaccard_pairs
    boiler = " ".join(f"boiler{i}" for i in range(20))
    rows = []
    # 12 docs sharing ONLY boilerplate + distinct bodies
    for i in range(12):
        body = " ".join(f"w{i}x{j}" for j in range(20))
        rows.append((i, f"{boiler} {body}"))
    # one true near-dup pair on distinctive content (ids 100, 101)
    core = " ".join(f"core{j}" for j in range(30))
    rows.append((100, f"{boiler} {core} tailA"))
    rows.append((101, f"{boiler} {core} tailB"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # default contract: the shared boilerplate makes MANY pairs
    dflt = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3)
    assert dflt.count() > 1

    # capped contract: grams in >= half the corpus drop -> only the
    # distinctive near-dup pair remains
    capped = ngram_jaccard_pairs(docs, "doc_id", "text", threshold=0.3,
                                 max_gram_df=5).collect()
    assert [(r.id_a, r.id_b) for r in capped] == [(100, 101)]

    # scalar reference on the sub-cap shingle sets
    import itertools
    from collections import Counter
    def shingle(t):
        toks = t.split()
        return {" ".join(toks[i:i + 3]) for i in range(len(toks) - 2)}
    sets = {i: shingle(t) for i, t in rows}
    df_count = Counter(g for s in sets.values() for g in s)
    fsets = {i: {g for g in s if df_count[g] <= 5}
             for i, s in sets.items()}
    ref = []
    for a, b in itertools.combinations(sorted(fsets), 2):
        sa, sb = fsets[a], fsets[b]
        if sa and sb:
            j = len(sa & sb) / len(sa | sb)
            if j >= 0.3:
                ref.append((a, b, j))
    assert [(r.id_a, r.id_b) for r in capped] == [(a, b) for a, b, _ in ref]
    assert capped[0].jaccard == pytest.approx(ref[0][2])


class TestDuplicatedSpans:
    """Span-level exact substring dedup (fixed k-token windows)."""

    def _docs(self, spark):
        # docs 1 and 2 share tokens 0..9 ("w0..w9"); doc 3 is disjoint;
        # doc 4 repeats a window of doc 1's tail
        shared = " ".join(f"w{i}" for i in range(10))
        t1 = shared + " a b c d e f g h"
        t2 = shared + " p q r s t u v x"
        t3 = " ".join(f"z{i}" for i in range(20))
        t4 = "a b c d e f g h " + " ".join(f"y{i}" for i in range(8))
        return spark.createDataFrame(
            [(1, t1), (2, t2), (3, t3), (4, t4)], ["doc_id", "text"])

    def test_spans_match_bruteforce(self, spark):
        from datasketches_spark_spark.operators import duplicated_spans
        docs = self._docs(spark)
        k = 4
        rows = {(r.doc_id, r.span_start, r.span_end, r.n_windows)
                for r in duplicated_spans(docs, "doc_id", "text", k=k)
                .collect()}
        # brute force in python
        corpus = {r.doc_id: r.text.split() for r in docs.collect()}
        wins = {}
        for d, ts in corpus.items():
            for i in range(len(ts) - k + 1):
                wins.setdefault(tuple(ts[i:i + k]), set()).add(d)
        expect = set()
        for d, ts in corpus.items():
            pos = sorted(i for i in range(len(ts) - k + 1)
                         if len(wins[tuple(ts[i:i + k])]) >= 2)
            spans = []
            for p in pos:
                if spans and p <= spans[-1][1]:
                    spans[-1][1] = max(spans[-1][1], p + k)
                    spans[-1][2] += 1
                else:
                    spans.append([p, p + k, 1])
            expect |= {(d, s, e, n) for s, e, n in spans}
        assert rows == expect
        assert rows  # non-degenerate: shared prefixes must show up

    def test_adjacent_windows_merge(self, spark):
        from datasketches_spark_spark.operators import duplicated_spans
        # identical docs: every window duplicated -> exactly one span
        # covering the whole doc
        df = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c d e f")], ["doc_id", "text"])
        got = duplicated_spans(df, "doc_id", "text", k=3).collect()
        assert {(r.doc_id, r.span_start, r.span_end, r.n_windows)
                for r in got} == {(1, 0, 6, 4), (2, 0, 6, 4)}

    def test_hash64_same_spans(self, spark):
        from datasketches_spark_spark.operators import duplicated_spans
        docs = self._docs(spark)
        a = {tuple(r) for r in
             duplicated_spans(docs, "doc_id", "text", k=4).collect()}
        b = {tuple(r) for r in
             duplicated_spans(docs, "doc_id", "text", k=4,
                              hash64=True).collect()}
        assert a == b

    def test_single_scan_two_exchanges(self, spark):
        from datasketches_spark_spark.operators import duplicated_spans
        docs = self._docs(spark)
        plan = (duplicated_spans(docs, "doc_id", "text", k=4)
                ._jdf.queryExecution().executedPlan().toString())
        # stacked gram-key windows share ONE exchange; span merge adds
        # the doc-id exchange; the span aggregate reuses it
        assert plan.count("Exchange") == 2
        assert "Join" not in plan


class TestBigramLM:
    """Add-k bigram LM perplexity (the CCNet-style quality filter)."""

    CORPUS = [(1, "the cat sat on the mat"),
              (2, "the dog sat on the rug"),
              (3, "qq zz qq zz qq")]

    def _score(self, spark, score_ids=None, k=0.5):
        from datasketches_spark_spark.operators import (perplexity_score,
                                                        train_bigram_lm)
        df = spark.createDataFrame(self.CORPUS, ["doc_id", "text"])
        uni, bi = train_bigram_lm(df, "text")
        target = df if score_ids is None else \
            df.where(df.doc_id.isin(score_ids))
        return perplexity_score(target, "doc_id", "text", uni, bi, k=k)

    def test_matches_scalar_reference(self, spark):
        import math
        got = {r.doc_id: (r.n_tokens, r.n_oov_terms, r.avg_nll, r.ppl)
               for r in self._score(spark).collect()}
        toks = {d: t.split() for d, t in self.CORPUS}
        uni, bi = {}, {}
        for ts in toks.values():
            for w in ts:
                uni[w] = uni.get(w, 0) + 1
            for a, b in zip(ts, ts[1:]):
                bi[(a, b)] = bi.get((a, b), 0) + 1
        v, tot, k = len(uni), sum(uni.values()), 0.5
        for d, ts in toks.items():
            nll = [-math.log((uni.get(ts[0], 0) + k) / (tot + k * v))]
            oov = 1 if uni.get(ts[0], 0) == 0 else 0
            for a, b in zip(ts, ts[1:]):
                c2 = bi.get((a, b), 0)
                nll.append(-math.log((c2 + k) / (uni.get(a, 0) + k * v)))
                oov += 1 if c2 == 0 else 0
            avg = sum(nll) / len(ts)
            assert got[d] == (len(ts), oov,
                              round(avg, 6), round(math.exp(avg), 6))

    def test_fluent_beats_gibberish(self, spark):
        # doc 3's bigrams repeat so IT is predictable to the LM; score
        # an unseen permutation instead: unseen bigrams of seen words
        from datasketches_spark_spark.operators import (perplexity_score,
                                                        train_bigram_lm)
        train = spark.createDataFrame(self.CORPUS, ["doc_id", "text"])
        uni, bi = train_bigram_lm(train, "text")
        probe = spark.createDataFrame(
            [(10, "the cat sat on the mat"),      # in-distribution
             (11, "mat the on sat cat the")],     # shuffled: unseen bigrams
            ["doc_id", "text"])
        got = {r.doc_id: r.ppl for r in perplexity_score(
            probe, "doc_id", "text", uni, bi).collect()}
        assert got[10] < got[11]

    def test_oov_counts(self, spark):
        from datasketches_spark_spark.operators import (perplexity_score,
                                                        train_bigram_lm)
        train = spark.createDataFrame(self.CORPUS, ["doc_id", "text"])
        uni, bi = train_bigram_lm(train, "text")
        probe = spark.createDataFrame([(20, "xx yy")], ["doc_id", "text"])
        r = perplexity_score(probe, "doc_id", "text", uni, bi).collect()[0]
        # first term: unseen word; second term: unseen bigram
        assert (r.n_tokens, r.n_oov_terms) == (2, 2)

    def test_single_token_doc(self, spark):
        from datasketches_spark_spark.operators import (perplexity_score,
                                                        train_bigram_lm)
        train = spark.createDataFrame(self.CORPUS, ["doc_id", "text"])
        uni, bi = train_bigram_lm(train, "text")
        probe = spark.createDataFrame([(30, "the")], ["doc_id", "text"])
        r = perplexity_score(probe, "doc_id", "text", uni, bi).collect()[0]
        assert r.n_tokens == 1 and r.n_oov_terms == 0

    def test_train_counts_map_side_combined(self, spark):
        from datasketches_spark_spark.operators import train_bigram_lm
        df = spark.createDataFrame(self.CORPUS, ["doc_id", "text"])
        uni, _ = train_bigram_lm(df, "text")
        plan = uni._jdf.queryExecution().executedPlan().toString()
        # partial aggregate before the exchange: shuffles carry counts
        assert plan.index("HashAggregate") < plan.index("Exchange")


@pytest.mark.parametrize("seed", [0, 1, 2, 3, 4])
def test_duplicated_spans_random_corpus_vs_bruteforce(spark, seed):
    """Randomized corpora (tiny vocab -> dense window collisions, the
    adversarial regime for island merging) against a scalar model."""
    import random
    rng = random.Random(seed)
    k = rng.choice([2, 3, 4])
    vocab = [f"w{i}" for i in range(rng.choice([3, 5, 8]))]
    corpus = {d: " ".join(rng.choice(vocab)
                          for _ in range(rng.randint(0, 25)))
              for d in range(12)}
    from datasketches_spark_spark.operators import duplicated_spans
    df = spark.createDataFrame(
        [(d, t) for d, t in corpus.items()], ["doc_id", "text"])
    got = {(r.doc_id, r.span_start, r.span_end, r.n_windows)
           for r in duplicated_spans(df, "doc_id", "text", k=k).collect()}
    toks = {d: t.split() for d, t in corpus.items()}
    wins = {}
    for d, ts in toks.items():
        for i in range(len(ts) - k + 1):
            wins.setdefault(tuple(ts[i:i + k]), set()).add(d)
    expect = set()
    for d, ts in toks.items():
        pos = [i for i in range(len(ts) - k + 1)
               if len(wins[tuple(ts[i:i + k])]) >= 2]
        spans = []
        for p in pos:
            if spans and p <= spans[-1][1]:
                spans[-1][1] = max(spans[-1][1], p + k)
                spans[-1][2] += 1
            else:
                spans.append([p, p + k, 1])
        expect |= {(d, s, e, n) for s, e, n in spans}
    assert got == expect


class TestSemanticDedup:
    """SemDeDup cluster-then-dedup (deterministic relational rule)."""

    def _corpus(self, spark):
        # two well-separated clusters on axes 0 and 1; ids 0/1 are the
        # centroid seeds; 10/11 near-dup each other in cluster 0 (11
        # slightly farther from the centroid), 20 is alone in cluster 1
        rows = [
            (0, [1.0, 0.0, 0.0]),          # seed / centroid 0
            (1, [0.0, 1.0, 0.0]),          # seed / centroid 1
            (10, [0.7, 0.3, 0.0]),         # cos to seed 0 = 0.919 < eps
            (11, [0.7, 0.3, 0.001]),       # ~dup of 10 (cos ~ 0.9999)
            (20, [0.3, 0.7, 0.0]),         # cos to seed 1 = 0.919 < eps
        ]
        return spark.createDataFrame(rows, ["vec_id", "embedding"])

    def test_drops_near_dup_keeps_farthest(self, spark):
        from datasketches_spark_spark.operators import semantic_dedup_drops
        df = self._corpus(spark)
        cents = df.where("vec_id < 2")
        got = [(r.cluster, r.id_kept, r.id_dropped)
               for r in semantic_dedup_drops(df, cents, eps=0.99)
               .collect()]
        # 10 and 11 exceed eps; whichever has LOWER centroid-cosine is
        # kept (farthest-from-centroid rule). 0 vs 10/11 and 20 vs 1
        # are below eps; seeds themselves survive.
        assert len(got) == 1
        (cl, kept, dropped) = got[0]
        assert cl == 0 and {kept, dropped} == {10, 11}
        # verify the priority direction explicitly
        import numpy as np
        def cos(a, b):
            a, b = np.array(a, float), np.array(b, float)
            return round(float(a @ b / np.linalg.norm(a)
                               / np.linalg.norm(b)), 6)
        rows = {r.vec_id: r.embedding for r in df.collect()}
        c0 = rows[0]
        lower = 10 if cos(rows[10], c0) < cos(rows[11], c0) else 11
        assert kept == lower

    def test_eps_one_drops_nothing(self, spark):
        from datasketches_spark_spark.operators import semantic_dedup_drops
        df = self._corpus(spark)
        assert semantic_dedup_drops(df, df.where("vec_id < 2"),
                                    eps=1.0).count() == 0

    def test_empty_centroids_raise(self, spark):
        import pytest as _pt
        from datasketches_spark_spark.operators import semantic_dedup_drops
        df = self._corpus(spark)
        with _pt.raises(ValueError):
            semantic_dedup_drops(df, df.where("vec_id < 0"))

    def test_identical_vectors_tie_keeps_smaller_id(self, spark):
        from datasketches_spark_spark.operators import semantic_dedup_drops
        df = spark.createDataFrame(
            [(0, [1.0, 0.0]), (5, [0.8, 0.2]), (7, [0.8, 0.2])],
            ["vec_id", "embedding"])
        got = [(r.id_kept, r.id_dropped)
               for r in semantic_dedup_drops(
                   df, df.where("vec_id = 0"), eps=0.99).collect()]
        assert got == [(5, 7)]


class TestProfileTable:
    def test_metrics_exact(self, spark):
        from datasketches_spark_spark.operators import profile_table
        df = spark.createDataFrame(
            [(1, "a"), (2, "a"), (None, "b"), (4, None)],
            "x int, s string")
        got = {(r.column, r.metric): (r.num, r.str)
               for r in profile_table(df, percentiles=(0.5,),
                                      top_k=2).collect()}
        assert got[("_table", "rows")] == (4.0, None)
        assert got[("x", "nulls")] == (1.0, None)
        assert got[("x", "ndv")] == (3.0, None)
        assert got[("x", "min")] == (1.0, None)
        assert got[("x", "max")] == (4.0, None)
        assert got[("s", "nulls")] == (1.0, None)
        assert got[("s", "ndv")] == (2.0, None)
        assert got[("s", "top1")] == (2.0, "a")
        assert got[("s", "top2")] == (1.0, "b")

    def test_top_k_truncates_to_observed(self, spark):
        from datasketches_spark_spark.operators import profile_table
        df = spark.createDataFrame([("only",)], "s string")
        tops = [r for r in profile_table(df, top_k=5).collect()
                if r.metric.startswith("top")]
        assert len(tops) == 1 and tops[0].str == "only"

    def test_no_profilable_columns_raises(self, spark):
        import pytest as _pt
        from datasketches_spark_spark.operators import profile_table
        df = spark.createDataFrame([([1],)], "arr array<int>")
        with _pt.raises(ValueError):
            profile_table(df)


class TestRemoveSpans:
    def test_cut_matches_scalar(self, spark):
        from datasketches_spark_spark.operators import (duplicated_spans,
                                                        remove_spans)
        shared = " ".join(f"w{i}" for i in range(10))
        corpus = {1: shared + " a b c", 2: shared + " x y z",
                  3: "p q r s t u v"}
        df = spark.createDataFrame(
            [(d, t) for d, t in corpus.items()], ["doc_id", "text"])
        spans = duplicated_spans(df, "doc_id", "text", k=4)
        got = {r.doc_id: (r.text, r.n_removed_tokens)
               for r in remove_spans(df, spans, "doc_id", "text")
               .collect()}
        # docs 1/2 lose the shared 10-token prefix; doc 3 untouched
        assert got[1] == ("a b c", 10)
        assert got[2] == ("x y z", 10)
        assert got[3] == ("p q r s t u v", 0)

    def test_detect_then_cut_leaves_no_spans(self, spark):
        from datasketches_spark_spark.operators import (duplicated_spans,
                                                        remove_spans)
        df = spark.createDataFrame(
            [(1, "a b c d e f g h"), (2, "a b c d e z z z"),
             (3, "q w e r t y u i")], ["doc_id", "text"])
        spans = duplicated_spans(df, "doc_id", "text", k=3)
        cleaned = remove_spans(df, spans, "doc_id", "text")
        again = duplicated_spans(cleaned, "doc_id", "text", k=3)
        assert again.count() == 0  # the fixed point of the pipeline

    def test_empty_span_table_passthrough(self, spark):
        from datasketches_spark_spark.operators import remove_spans
        df = spark.createDataFrame([(1, "a b")], ["doc_id", "text"])
        spans = spark.createDataFrame(
            [], "doc_id long, span_idx long, span_start long, "
                "span_end long, n_windows long")
        r = remove_spans(df, spans, "doc_id", "text").collect()[0]
        assert (r.text, r.n_removed_tokens) == ("a b", 0)


class TestDedupLines:
    """dedup_lines (CCNet line-level boilerplate rule): lines are cut
    only when their NORMALIZED form spans >= min_doc_freq DISTINCT
    documents; reassembly preserves order; within-document repeats
    alone never trigger removal."""

    def _run(self, spark, rows, **kw):
        from datasketches_spark_spark.operators import dedup_lines
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        return {r.doc_id: r for r in
                dedup_lines(df, "doc_id", "text", **kw).collect()}

    def test_cross_doc_line_removed_order_kept(self, spark):
        out = self._run(spark, [
            (1, "keep me\nCOOKIE BANNER\nalso keep"),
            (2, "cookie banner\nunique line"),
            (3, "totally different"),
        ])
        assert out[1].text_clean == "keep me\nalso keep"
        assert (out[1].n_lines, out[1].n_removed) == (3, 1)
        assert out[1].chars_removed == len("COOKIE BANNER")
        assert out[2].text_clean == "unique line"
        assert out[3].n_removed == 0

    def test_within_doc_repeat_not_removed(self, spark):
        out = self._run(spark, [(1, "same\nsame\nother"),
                                (2, "nothing shared")])
        assert out[1].n_removed == 0
        assert out[1].text_clean == "same\nsame\nother"

    def test_all_lines_removed_keeps_row(self, spark):
        out = self._run(spark, [(1, "a\nb"), (2, "a\nb")])
        assert out[1].text_clean == "" and out[1].n_removed == 2
        assert out[2].chars_removed == 2

    def test_normalization_collapses_case_and_spaces(self, spark):
        out = self._run(spark, [(1, "Cookie  Banner "),
                                (2, "cookie banner")])
        assert out[1].n_removed == 1 and out[2].n_removed == 1
        # normalize=False: raw bytes differ, nothing removed
        raw = self._run(spark, [(1, "Cookie  Banner "),
                                (2, "cookie banner")], normalize=False)
        assert raw[1].n_removed == 0 and raw[2].n_removed == 0

    def test_min_doc_freq_threshold(self, spark):
        rows = [(i, "shared line\nuniq %d" % i) for i in range(3)]
        strict = self._run(spark, rows, min_doc_freq=4)
        assert all(r.n_removed == 0 for r in strict.values())
        loose = self._run(spark, rows, min_doc_freq=3)
        assert all(r.n_removed == 1 for r in loose.values())

    def test_regex_metachar_separator(self, spark):
        # sep is joined literally on reassembly, so the split side must
        # treat it literally too ('.' and '|' are regex metachars)
        out = self._run(spark, [(1, "keep me.SHARED.also keep"),
                                (2, "shared.unique line")], sep=".")
        assert out[1].text_clean == "keep me.also keep"
        assert out[1].n_removed == 1
        out = self._run(spark, [(1, "a|DUP|b"), (2, "dup|c")], sep="|")
        assert out[1].text_clean == "a|b" and out[1].n_removed == 1

    def test_bad_min_doc_freq_raises(self, spark):
        from datasketches_spark_spark.operators import dedup_lines
        df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
        import pytest as _pt
        with _pt.raises(ValueError):
            dedup_lines(df, "doc_id", "text", min_doc_freq=1)


class TestTrigramLM:
    """Interpolated (Jelinek-Mercer) trigram LM perplexity."""

    CORPUS = [(1, "the cat sat on the mat"),
              (2, "the dog sat on the rug"),
              (3, "qq zz qq zz qq")]

    def _fit_score(self, spark, target=None):
        from datasketches_spark_spark.operators import (
            perplexity_score_trigram, train_trigram_lm)
        df = spark.createDataFrame(self.CORPUS, ["doc_id", "text"])
        uni, bi, tri = train_trigram_lm(df, "text")
        return perplexity_score_trigram(target or df, "doc_id", "text",
                                        uni, bi, tri)

    def test_matches_scalar_reference(self, spark):
        import math
        got = {r.doc_id: r for r in self._fit_score(spark).collect()}
        toks = {d: t.split() for d, t in self.CORPUS}
        uni, bi, tri = {}, {}, {}
        for ts in toks.values():
            for w in ts:
                uni[w] = uni.get(w, 0) + 1
            for a, b in zip(ts, ts[1:]):
                bi[(a, b)] = bi.get((a, b), 0) + 1
            for a, b, c in zip(ts, ts[1:], ts[2:]):
                tri[(a, b, c)] = tri.get((a, b, c), 0) + 1
        v, tot, k = len(uni), sum(uni.values()), 0.5
        l3, l2, l1 = 0.5, 0.3, 0.2
        for d, ts in toks.items():
            nll, oov = 0.0, 0
            for i, w in enumerate(ts):
                p1 = (uni.get(w, 0) + k) / (tot + k * v)
                if i == 0:
                    p, hc = p1, uni.get(w, 0)
                elif i == 1:
                    c2 = bi.get((ts[0], w), 0)
                    p2 = (c2 + k) / (uni.get(ts[0], 0) + k * v)
                    p, hc = (l3 + l2) * p2 + l1 * p1, c2
                else:
                    a, b = ts[i - 2], ts[i - 1]
                    c3 = tri.get((a, b, w), 0)
                    p3 = (c3 + k) / (bi.get((a, b), 0) + k * v)
                    p2 = (bi.get((b, w), 0) + k) / (uni.get(b, 0) + k * v)
                    p, hc = l3 * p3 + l2 * p2 + l1 * p1, c3
                nll -= math.log(p)
                oov += hc == 0
            r = got[d]
            assert r.n_tokens == len(ts) and r.n_oov_terms == oov
            assert abs(r.avg_nll - nll / len(ts)) < 1e-6
            assert abs(r.ppl - math.exp(nll / len(ts))) < 1e-4

    def test_gibberish_scores_worse_than_fluent(self, spark):
        got = {r.doc_id: r.ppl for r in self._fit_score(spark).collect()}
        # docs 1/2 share trigram mass; doc 3's grams are self-repeating
        # but its unigrams are rare -> trained english-ish beats nothing,
        # and an unseen-word probe is worst of all
        probe = spark.createDataFrame([(9, "xx yy zz ww vv uu")],
                                      ["doc_id", "text"])
        pp = self._fit_score(spark, target=probe).collect()[0].ppl
        assert pp > max(got.values())

    def test_short_docs_defined(self, spark):
        probe = spark.createDataFrame([(7, "the"), (8, "the cat")],
                                      ["doc_id", "text"])
        rows = {r.doc_id: r for r in
                self._fit_score(spark, target=probe).collect()}
        assert rows[7].n_tokens == 1 and rows[8].n_tokens == 2
        assert rows[7].ppl > 0 and rows[8].ppl > 0

    def test_lambdas_validated(self, spark):
        from datasketches_spark_spark.operators import (
            perplexity_score_trigram, train_trigram_lm)
        df = spark.createDataFrame(self.CORPUS, ["doc_id", "text"])
        uni, bi, tri = train_trigram_lm(df, "text")
        import pytest as _pt
        with _pt.raises(ValueError):
            perplexity_score_trigram(df, "doc_id", "text", uni, bi, tri,
                                     lambdas=(0.5, 0.3, 0.3))


class TestSketchAccumulateMulti:
    """r16: sketch_accumulate_multi — N families, one scan, one
    state-only shuffle row per group; states must equal the
    single-measure sketch_accumulate states family-by-family."""

    def test_states_match_single_measure(self, spark, sf_dir):
        from pyspark.sql import functions as F
        from datasketches_spark_spark.operators import (
            sketch_accumulate, sketch_accumulate_multi, state_measure)
        from datasketches_spark_spark import functions as dsf
        from datasketches_spark_spark.sources import read_table
        ev = read_table(spark, sf_dir, "events")
        multi = sketch_accumulate_multi(
            ev, ["event_type"],
            [state_measure("ts", "user_id", "theta", k=4096),
             state_measure("hs", "event_id", "hll", lgk=12)])
        est = {r.event_type: (r.t, r.h) for r in multi.select(
            "event_type",
            dsf.approx_count_distinct_estimate("ts").alias("t"),
            dsf.approx_count_distinct_estimate("hs").alias("h"))
            .collect()}
        single_t = {r.event_type: r.t for r in sketch_accumulate(
            ev, ["event_type"], "user_id", family="theta", k=4096)
            .select("event_type", dsf.approx_count_distinct_estimate(
                "state").alias("t")).collect()}
        exact = {r.event_type: (r.nu, r.ne) for r in ev.groupBy(
            "event_type").agg(
                F.countDistinct("user_id").alias("nu"),
                F.countDistinct("event_id").alias("ne")).collect()}
        assert set(est) == set(exact)
        for k, (t, h) in est.items():
            assert t == single_t[k] == exact[k][0]   # exact regime
            # HLL lgk=12 may estimate past its sparse phase
            assert abs(h - exact[k][1]) <= max(0.05 * exact[k][1], 1)

    def test_tuple_and_bloom_families(self, spark, sf_dir):
        from datasketches_spark_spark.operators import (
            sketch_accumulate_multi, state_measure)
        from datasketches_spark_spark import functions as dsf
        from datasketches_spark_spark.sources import read_table
        from datasketches_spark_spark.sketches import ITEM_LONG
        ev = read_table(spark, sf_dir, "events")
        multi = sketch_accumulate_multi(
            ev, ["event_type"],
            [state_measure("tst", ("user_id", "value"), "tuple",
                           k=8192),
             state_measure("bs", "user_id", "membership",
                           expected_items=1024, fpp=0.01),
             state_measure("fs", "user_id", "freq",
                           item_type=ITEM_LONG, max_map_size=8192)])
        rows = multi.select(
            "event_type",
            dsf.approx_tuple_estimate("tst")["ndv"].alias("tn"),
            dsf.approx_membership_estimate("bs").alias("bn")).collect()
        from pyspark.sql import functions as F
        exact = {r.event_type: r.nu for r in
                 read_table(spark, sf_dir, "events")
                 .groupBy("event_type")
                 .agg(F.countDistinct("user_id").alias("nu")).collect()}
        for r in rows:
            assert r.tn == exact[r.event_type]       # exact regime
            assert abs(r.bn - exact[r.event_type]) <= \
                max(0.1 * exact[r.event_type], 2)

    def test_empty_partitions_and_global(self, spark):
        from datasketches_spark_spark.operators import (
            sketch_accumulate_multi, state_measure)
        from datasketches_spark_spark import functions as dsf
        df = spark.createDataFrame(
            [(i % 3, float(i)) for i in range(100)],
            "g int, v double").repartition(16)
        multi = sketch_accumulate_multi(
            df, [], [state_measure("q", "v", "quantile",
                                   impl="MERGEABLE", k=4096)])
        got = multi.select(dsf.approx_percentile_estimate("q", 0.5)
                           .alias("m")).collect()[0].m
        assert got == 49.0  # quantile_disc p50 of 0..99
