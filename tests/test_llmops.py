"""Operator-level tests for the llmops modules: dedup corpus semantics,
hot-shingle cap, multimodal plumbing (Arrow-batched decode, resize /
frame-sample plans)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_batch_spark.llmops import dedup, multimodal, similarity
from etl_batch_spark.catalog import load_table


@pytest.fixture()
def corpus(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "the quick brown fox jumps over the lazy dog"),  # exact dup of 1
        (3, "THE  QUICK brown fox jumps over the lazy dog"),  # cosmetic variant
        (4, "a completely different document about spark engines"),
        (5, "the quick brown fox jumps over the sleepy dog"),  # near-dup of 1
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _pq_codes(corpus, *, m, ks):
    """``(id, sub, code)``: pq_topk's encode path (codebook, then the
    row-local argmin against it)."""
    d, cb_rows, sd = similarity._pq_parts(corpus, m=m, ks=ks)
    return similarity._pq_encode_with(
        d, cb_rows, sd, m=m, id_sql_type=dict(corpus.dtypes)["vec_id"]
    )


class TestDedup:
    def test_exact_groups_and_drop(self, corpus):
        groups = {r["keeper_doc_id"]: r["n_copies"] for r in dedup.exact_groups(corpus).collect()}
        assert groups[1] == 2  # docs 1+2 identical
        deduped = dedup.drop_exact_duplicates(corpus)
        ids = {r["doc_id"] for r in deduped.collect()}
        assert ids == {1, 3, 4, 5}  # doc 2 dropped, keeper kept

    def test_fingerprint_collapses_cosmetic_variants(self, corpus):
        groups = {r["keeper_doc_id"]: r["n_copies"] for r in dedup.fingerprint_groups(corpus).collect()}
        assert groups[1] == 3  # 1, 2 and the case/whitespace variant 3

    def test_jaccard_finds_near_dup(self, corpus):
        pairs = {(r["doc_a"], r["doc_b"]): r["jaccard"] for r in
                 dedup.jaccard_pairs(corpus, threshold=0.5).collect()}
        assert (1, 2) in pairs and pairs[(1, 2)] == 1.0
        assert (1, 5) in pairs and 0.5 <= pairs[(1, 5)] < 1.0
        assert not any(4 in p for p in pairs)

    def test_minhash_candidates_include_true_dups(self, corpus):
        ss = dedup.shingle_sets(corpus)
        sig = dedup.minhash_signatures(ss, num_hashes=8)
        pairs = {(r["doc_a"], r["doc_b"]): r["n_hash_agree"] for r in
                 dedup.minhash_candidate_pairs(sig, num_hashes=8).collect()}
        assert pairs[(1, 2)] == 8  # identical docs agree on every position

    def test_simhash_identical_docs_equal_signatures(self, corpus):
        sigs = {r["doc_id"]: r["simhash16"] for r in dedup.simhash(corpus).collect()}
        assert sigs[1] == sigs[2]
        assert 0 <= sigs[1] < 2**16
        # near-dup differs in few bits; unrelated doc differs in more
        ham_near = bin(sigs[1] ^ sigs[5]).count("1")
        ham_far = bin(sigs[1] ^ sigs[4]).count("1")
        assert ham_near <= ham_far


class TestSimilarity:
    def test_topk_self_best_match(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        res = similarity.cosine_topk(emb, emb.filter(F.col("vec_id") < 3), k=2)
        rows = res.collect()
        assert {r["query_id"] for r in rows} == {0, 1, 2}
        for r in rows:
            assert r["neighbor_id"] != r["query_id"]
            assert -1.0001 <= r["cosine"] <= 1.0001

    def test_bucketed_is_subset_of_bruteforce_candidates(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 5)
        bucketed = similarity.bucketed_topk(emb, q, k=50, n_bits=4)
        # every bucketed neighbor must share the query's bucket
        v = emb.select("vec_id", similarity.signbit_bucket(
            "transform(embedding, x -> cast(x as double))", 4).alias("b"))
        buckets = {r["vec_id"]: r["b"] for r in v.collect()}
        for r in bucketed.collect():
            assert buckets[r["query_id"]] == buckets[r["neighbor_id"]]


    def test_multitable_one_table_equals_bucketed(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 5)
        one = similarity.multitable_topk(emb, q, k=3, n_bits=6, n_tables=1)
        ref = similarity.bucketed_topk(emb, q, k=3, n_bits=6)
        assert sorted(map(tuple, one.collect())) == sorted(map(tuple, ref.collect()))

    def test_multitable_recall_dominates_single_table(self, spark, sf_dir):
        # OR-construction candidates are a superset of table 0's, and
        # ties break identically, so per-query recall@k can only go up
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 10)
        exact = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.cosine_topk(emb, q, k=3).collect()
        }
        one = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.bucketed_topk(emb, q, k=3, n_bits=6).collect()
        }
        three = {
            (r["query_id"], r["neighbor_id"])
            for r in similarity.multitable_topk(
                emb, q, k=3, n_bits=6, n_tables=3
            ).collect()
        }
        for qid in {p[0] for p in exact}:
            m1 = len({p for p in exact & one if p[0] == qid})
            m3 = len({p for p in exact & three if p[0] == qid})
            assert m3 >= m1

    def test_neardup_pairs_flags_planted_duplicate(self, spark):
        base = [round(((i * 37) % 101 - 50) / 50.0, 3) for i in range(16)]
        near = list(base)
        near[0] += 0.01  # same sign bits, cosine ≈ 1
        opposite = [-x for x in base]
        emb = spark.createDataFrame(
            [(0, base), (1, near), (2, opposite)],
            "vec_id long, embedding array<float>",
        )
        pairs = {(r["id_a"], r["id_b"]): r["cosine"]
                 for r in similarity.neardup_pairs(emb, threshold=0.9, n_bits=4).collect()}
        assert (0, 1) in pairs and pairs[(0, 1)] > 0.99
        assert not any(2 in p for p in pairs)  # opposite vector never pairs

    def test_pq_encode_shape_and_code_range(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        codes = _pq_codes(emb, m=8, ks=16).collect()
        n = emb.count()
        assert len(codes) == n * 8  # one code per (vector, subspace)
        assert {r["sub"] for r in codes} == set(range(8))
        assert all(0 <= r["code"] < 16 for r in codes)
        # a codebook seed vector encodes to itself in every subspace
        assert all(r["code"] == 0 for r in codes if r["vec_id"] == 0)

    def test_pq_topk_recall_vs_exact_l2(self, spark, sf_dir):
        import numpy as np

        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 10)
        approx = similarity.pq_topk(emb, q, k=3, m=8, ks=16).collect()
        rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
        ids = np.array([r["vec_id"] for r in rows])
        V = np.array([[float(x) for x in r["embedding"]] for r in rows])
        got = {(r["query_id"], r["neighbor_id"]) for r in approx}
        exact = set()
        pctiles = []
        for qi in range(10):
            d2 = ((V - V[ids == qi][0]) ** 2).sum(axis=1)
            d2[ids == qi] = np.inf
            order = np.argsort(d2, kind="stable")
            for j in order[:3]:
                exact.add((qi, int(ids[j])))
            rank = {int(ids[j]): pos for pos, j in enumerate(order)}
            pctiles += [rank[n] / len(ids) for (q_, n) in got if q_ == qi]
        assert len(got) == len(exact)  # k rows per query
        # untrained 16-entry codebooks: recall well above the 3/500 random
        # baseline, and returned neighbors sit in the true nearest tail
        assert len(got & exact) / len(exact) >= 0.15
        assert float(np.mean(pctiles)) <= 0.15

    def test_random_projection_preserves_pairwise_distances(self, spark, sf_dir):
        import numpy as np

        emb = load_table(spark, sf_dir, "embeddings").filter(F.col("vec_id") < 40)
        long = similarity.random_project(emb, out_dim=16, in_dim=64).collect()
        P = {}
        for r in long:
            P.setdefault(r["vec_id"], [0.0] * 16)[r["j"]] = r["proj_micro"] / 1e6
        rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
        V = {r["vec_id"]: np.array([float(x) for x in r["embedding"]]) for r in rows}
        ids = sorted(V)
        ratios = []
        for a_i in range(0, len(ids), 7):
            for b_i in range(a_i + 1, len(ids), 11):
                a, b = ids[a_i], ids[b_i]
                orig = np.linalg.norm(V[a] - V[b]) ** 2
                proj = (
                    np.linalg.norm(np.array(P[a]) - np.array(P[b])) ** 2 / 16.0
                )
                if orig > 0:
                    ratios.append(proj / orig)
        # JL with k=16: squared distances preserved in expectation;
        # individual pairs fluctuate but the median ratio sits near 1
        med = sorted(ratios)[len(ratios) // 2]
        assert 0.5 < med < 2.0, med

    def test_semantic_dedup_drops_planted_rephrase(self, spark):
        base = [round(((i * 37) % 101 - 50) / 50.0, 3) for i in range(16)]
        near = [x * 1.1 for x in base]  # scaled copy: cosine == 1
        far = [((i * 53) % 97 - 48) / 48.0 for i in range(16)]
        emb = spark.createDataFrame(
            [(0, base), (1, far), (2, near)],
            "vec_id long, embedding array<float>",
        )
        out = {r["vec_id"]: r for r in
               similarity.semantic_dedup(emb, n_clusters=2, threshold=0.95).collect()}
        assert len(out) == 3  # one row per input, kept or not
        assert out[0]["kept"] and out[1]["kept"]
        assert not out[2]["kept"]  # later twin of 0 is the one dropped
        assert out[2]["cluster"] == out[0]["cluster"]

    def test_semantic_dedup_numpy_replay(self, spark, sf_dir):
        import numpy as np

        emb = load_table(spark, sf_dir, "embeddings")
        out = {r["vec_id"]: r for r in
               similarity.semantic_dedup(emb, n_clusters=16, threshold=0.35).collect()}
        rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
        ids = [r["vec_id"] for r in rows]
        V = np.array([[float(x) for x in r["embedding"]] for r in rows])
        Vn = V / np.linalg.norm(V, axis=1, keepdims=True)
        sim = np.round(Vn @ Vn[:16].T, 6)
        # argmax with cent-id tiebreak = first max
        cluster = {ids[i]: int(np.argmax(sim[i])) for i in range(len(ids))}
        dropped = set()
        for j in range(len(ids)):
            for i in range(j):
                if cluster[ids[i]] == cluster[ids[j]] and np.round(
                    float(Vn[i] @ Vn[j]), 6
                ) >= 0.35:
                    dropped.add(ids[j])
                    break
        assert len(out) == len(ids)
        for vid in ids:
            assert out[vid]["cluster"] == cluster[vid]
            assert out[vid]["kept"] == (vid not in dropped)

    def test_ivf_recall_vs_bruteforce(self, spark, sf_dir):
        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 10)
        exact = {(r["query_id"], r["neighbor_id"])
                 for r in similarity.cosine_topk(emb, q, k=3).collect()}
        approx = {(r["query_id"], r["neighbor_id"])
                  for r in similarity.ivf_topk(emb, q, k=3, n_centroids=16, nprobe=4).collect()}
        # IVF with 4-of-16 probes should recover a meaningful share of the
        # exact top-3 — and must return k rows per query
        assert len(approx) == len(exact)
        assert len(exact & approx) / len(exact) >= 0.3


class TestWinnowing:
    def test_shared_run_guarantees_shared_fingerprint(self, spark):
        from etl_batch_spark.llmops import text

        shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens > w+k-1=6
        rows = [
            (1, f"one two three {shared} four five"),
            (2, f"{shared} completely different tail words here"),
            (3, "nothing in common with the others at all whatsoever"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        fps = text.winnow_fingerprints(df, k=3, w=4)
        by_doc = {i: set() for i in (1, 2, 3)}
        for r in fps.collect():
            by_doc[r["doc_id"]].add(r["fingerprint"])
        assert by_doc[1] & by_doc[2]  # winnowing guarantee
        assert not (by_doc[1] & by_doc[3])

    def test_short_doc_single_fingerprint(self, spark):
        from etl_batch_spark.llmops import text

        df = spark.createDataFrame([(1, "just three tokens"), (2, "too few")],
                                   "doc_id long, text string")
        out = text.winnow_fingerprints(df, k=3, w=4).collect()
        assert len(out) == 1 and out[0]["doc_id"] == 1


class TestMultimodal:
    def test_attach_payload_metadata(self, spark, sf_dir):
        d = load_table(spark, sf_dir, "documents").limit(10)
        m = multimodal.attach_payload(d)
        row = m.select("media_meta", F.length("text").alias("n")).first()
        assert row["media_meta"]["modality"] == "image"
        assert row["media_meta"]["n_bytes"] == row["n"]  # ascii fixture text
        assert len(row["media_meta"]["sha256"]) == 64

    def test_decode_image_fake_roundtrip(self, spark, sf_dir):
        d = multimodal.attach_payload(load_table(spark, sf_dir, "documents").limit(20))
        out = multimodal.decode_image(d, fake=True)
        rows = out.collect()
        assert len(rows) == 20
        for r in rows:
            assert 64 <= r["width"] < 256 and 64 <= r["height"] < 256
            assert r["n_pixels"] == r["width"] * r["height"]
            assert len(r["feature"]) == 8

    def test_decode_image_real_mode_rejects_non_png(self, spark, sf_dir):
        # fake=False decodes PNG for real (tests/test_png.py); the
        # fixture payloads are text, so the non-PNG guard must still
        # fail loudly rather than fabricate pixels
        d = multimodal.attach_payload(load_table(spark, sf_dir, "documents").limit(2))
        with pytest.raises(Exception, match="NotImplementedError|PNG"):
            multimodal.decode_image(d, fake=False).collect()

    def test_resize_plan_caps_max_side(self, spark, sf_dir):
        d = multimodal.attach_payload(load_table(spark, sf_dir, "documents").limit(20))
        planned = multimodal.resize_plan(multimodal.decode_image(d, fake=True))
        for r in planned.collect():
            assert max(r["target_width"], r["target_height"]) <= 224
            if max(r["width"], r["height"]) <= 224:
                assert r["scale"] == 1.0

    def test_resize_plan_cap_survives_float_noise(self, spark):
        """width·(max_side/width) can land at max_side + 3 ulps, whose
        ceil overshoots the cap — e.g. 293·(224/293) = 224.0000…03.
        Targets must also agree with the EMITTED rounded scale."""
        import math

        dims = spark.createDataFrame(
            [(i, w, w // 2) for i, w in enumerate(range(225, 4000, 7))],
            "doc_id long, width int, height int",
        )
        rows = multimodal.resize_plan(dims).collect()
        for r in rows:
            assert max(r["target_width"], r["target_height"]) <= 224, r
            # plan consistent with the emitted scale the codec will use
            assert r["target_width"] == min(224, math.ceil(r["width"] * r["scale"]))

    def test_frame_sample_plan(self, spark):
        vids = spark.createDataFrame(
            [(1, 3.5), (2, 0.2)], "doc_id long, duration_s double"
        )
        frames = multimodal.frame_sample_plan(vids, fps=2.0).collect()
        by_doc = {}
        for r in frames:
            by_doc.setdefault(r["doc_id"], []).append(r["frame_ts"])
        assert len(by_doc[1]) == 7  # floor(3.5 * 2) = 7 frames
        assert by_doc[2] == [0.0]  # short clip → at least one frame
        assert by_doc[1][:3] == [0.0, 0.5, 1.0]


    def test_payload_transforms_accept_string_ids(self, spark):
        """Every payload transform keeps the id column's type —
        crawl-scale ids are URLs/hashes, not longs."""
        df = spark.createDataFrame(
            [("u://x", bytearray(b"some payload bytes"))],
            "doc_id string, payload binary",
        )
        we = multimodal.window_energy(df).collect()
        assert we and we[0]["doc_id"] == "u://x" and we[0]["widx"] == 0
        # a NULL payload fails with a clear error naming the operator
        nul = spark.createDataFrame(
            [("u://x", bytearray(b"abc")), ("u://null", None)],
            "doc_id string, payload binary",
        )
        with pytest.raises(Exception, match="NULL 'payload' — window_energy"):
            multimodal.window_energy(nul).collect()


class TestConnectedComponents:
    @staticmethod
    def _brute_components(edges):
        parent = {}

        def find(x):
            parent.setdefault(x, x)
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return {n: find(n) for n in parent}

    def _check(self, spark, edges):
        df = spark.createDataFrame(edges, "src long, dst long")
        got = {r["node"]: r["component"] for r in dedup.connected_components(df).collect()}
        assert got == self._brute_components(edges)

    def test_chain_and_clusters(self, spark):
        # a long chain (worst case for naive propagation), a triangle,
        # a duplicate-edge pair, and an isolated pair
        chain = [(i, i + 1) for i in range(10, 25)]
        self._check(spark, chain + [(1, 2), (2, 3), (3, 1), (40, 41), (41, 40), (50, 60)])

    def test_random_graphs_match_union_find(self, spark):
        import random

        rng = random.Random(7)
        edges = [(rng.randrange(60), rng.randrange(60)) for _ in range(120)]
        edges = [(a, b) for a, b in edges if a != b]
        self._check(spark, edges)

    def test_star_already_converged(self, spark):
        self._check(spark, [(5, 1), (6, 1), (7, 1)])

    def test_self_loop_only_nodes_become_singletons(self, spark):
        """Contract: one row per node appearing in edges — a node whose
        only edge is a self-loop is its own component, not dropped."""
        df = spark.createDataFrame([(1, 1), (2, 3)], "src long, dst long")
        got = {
            r["node"]: r["component"]
            for r in dedup.connected_components(df).collect()
        }
        assert got == {1: 1, 2: 2, 3: 2}


class TestSampling:
    def test_partition_independent_and_nested(self, spark):
        from etl_batch_spark.llmops import sampling

        df = spark.range(5_000).select(F.col("id").alias("doc_id"))
        s10 = {r["doc_id"] for r in
               sampling.hash_sample(df, key_col="doc_id", fraction=0.10).collect()}
        s10_repart = {r["doc_id"] for r in
                      sampling.hash_sample(df.repartition(7), key_col="doc_id",
                                           fraction=0.10).collect()}
        s30 = {r["doc_id"] for r in
               sampling.hash_sample(df, key_col="doc_id", fraction=0.30).collect()}
        assert s10 == s10_repart            # partitioning never changes membership
        assert s10 <= s30                   # nested samples for ablation ladders
        assert 0.07 < len(s10) / 5_000 < 0.13
        assert 0.26 < len(s30) / 5_000 < 0.34

    def test_stratified_fractions(self, spark):
        from etl_batch_spark.llmops import sampling

        df = spark.range(9_000).select(
            F.col("id").alias("doc_id"),
            F.concat(F.lit("src"), (F.col("id") % 3).cast("string")).alias("source"),
        )
        kept = sampling.stratified_hash_sample(
            df, key_col="doc_id", strata_col="source",
            fractions={"src0": 1.0, "src1": 0.2},
        )
        counts = {r["source"]: r["n"] for r in
                  kept.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert counts["src0"] == 3_000      # full stratum retained exactly
        assert 450 < counts.get("src1", 0) < 750
        assert "src2" not in counts         # default fraction 0

    def test_salt_with_quote_is_escaped(self, spark):
        from etl_batch_spark.llmops import sampling

        df = spark.range(1000).select(F.col("id").alias("doc_id"))
        bucket = sampling.hash_bucket("doc_id", salt="o'brien", n_buckets=2)
        kept = df.filter(bucket == 0)
        assert 300 < kept.count() < 700  # parses and samples, no ParseException


class TestTextQuality:
    def test_bigram_lm_ranks_common_phrases_above_rare_soup(self, spark):
        from etl_batch_spark.llmops import text

        common = "the cat sat on the mat"
        rows = [
            (1, common),
            (2, common),
            (3, common),
            (4, "zxq wvul brrtk nmop qqa lzee"),  # every bigram unique
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in text.bigram_lm_score(df).collect()}
        assert set(out) == {1, 2, 3, 4}
        assert out[1]["n_bigrams"] == 5
        # corpus-frequent bigrams beat one-off gibberish bigrams
        assert out[1]["avg_logp"] > out[4]["avg_logp"]
        assert out[1]["sum_logp_centi"] == out[2]["sum_logp_centi"]

    def test_bigram_lm_drops_sub_two_token_docs(self, spark):
        from etl_batch_spark.llmops import text

        df = spark.createDataFrame(
            [(1, "solo"), (2, ""), (3, "two tokens")],
            "doc_id long, text string",
        )
        out = {r["doc_id"] for r in text.bigram_lm_score(df).collect()}
        assert out == {3}

    def test_repetition_flags_repeated_doc(self, spark):
        from etl_batch_spark.llmops import text

        rows = [
            (1, "spam spam spam spam spam spam"),
            (2, "one two three four five six seven"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r for r in text.ngram_repetition(df, n=2).collect()}
        # doc 1: five identical "spam spam" 2-grams
        assert out[1]["n_grams"] == 5
        assert out[1]["dup_gram_frac"] == pytest.approx(0.8, abs=1e-6)
        assert out[1]["top_gram_frac"] == pytest.approx(1.0, abs=1e-6)
        # doc 2: all 2-grams distinct
        assert out[2]["dup_gram_frac"] == pytest.approx(0.0, abs=1e-6)

    def test_entropy_extremes(self, spark):
        from etl_batch_spark.llmops import text
        import math

        rows = [(1, "a a a a"), (2, "a b c d")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {r["doc_id"]: r["entropy"] for r in text.token_entropy(df).collect()}
        assert out[1] == pytest.approx(0.0, abs=1e-6)  # degenerate
        assert out[2] == pytest.approx(math.log(4), abs=1e-3)  # uniform

    def test_contamination_detects_planted_leak(self, spark):
        from etl_batch_spark.llmops import text

        bench = spark.createDataFrame(
            [(100, "alpha beta gamma delta epsilon zeta")],
            "doc_id long, text string",
        )
        train = spark.createDataFrame(
            [
                (1, "noise noise alpha beta gamma delta more noise"),
                (2, "totally unrelated training text with no overlap at all"),
            ],
            "doc_id long, text string",
        )
        hits = {r["doc_id"]: r for r in
                text.contamination(train, bench, n=4).collect()}
        assert 1 in hits and hits[1]["n_bench_docs"] == 1
        assert 2 not in hits

    def test_packing_spans_are_contiguous_per_stream(self, spark):
        from etl_batch_spark.llmops import text

        rows = [(i, "s0", "tok " * 300) for i in range(10)]
        df = spark.createDataFrame(rows, "doc_id long, source string, text string")
        out = sorted(
            text.pack_chunks(df, capacity=512).collect(), key=lambda r: r["doc_id"]
        )
        # 300-token docs: doc k occupies offsets [300k, 300k+300)
        offset = 0
        for r in out:
            assert r["chunk_start"] == offset // 512
            assert r["chunk_end"] == (offset + 299) // 512
            offset += 300
        # streams never skip a chunk: union of spans covers 0..last
        covered = set()
        for r in out:
            covered.update(range(r["chunk_start"], r["chunk_end"] + 1))
        assert covered == set(range(max(covered) + 1))


class TestShuffleOrder:
    def test_is_a_permutation_and_partition_invariant(self, spark, sf_dir):
        from etl_batch_spark.llmops import sampling

        docs = load_table(spark, sf_dir, "documents").select("doc_id")
        r1 = {r["doc_id"]: r["shuffle_rank"]
              for r in sampling.shuffle_order(docs, key_col="doc_id").collect()}
        n = len(r1)
        assert sorted(r1.values()) == list(range(1, n + 1))  # exact permutation
        # invariant under input partitioning
        r2 = {r["doc_id"]: r["shuffle_rank"]
              for r in sampling.shuffle_order(
                  docs.repartition(7), key_col="doc_id").collect()}
        assert r1 == r2

    def test_relative_order_stable_under_growth(self, spark):
        from etl_batch_spark.llmops import sampling

        small = spark.range(100).select(F.col("id").alias("doc_id"))
        big = spark.range(200).select(F.col("id").alias("doc_id"))
        rs = {r["doc_id"]: r["shuffle_rank"]
              for r in sampling.shuffle_order(small, key_col="doc_id").collect()}
        rb = {r["doc_id"]: r["shuffle_rank"]
              for r in sampling.shuffle_order(big, key_col="doc_id").collect()}
        order_s = sorted(rs, key=rs.get)
        order_b = [d for d in sorted(rb, key=rb.get) if d < 100]
        assert order_s == order_b  # survivors keep their relative order


class TestNextFitPacking:
    def test_invariants_and_python_replay(self, spark, sf_dir):
        from etl_batch_spark.llmops import text

        docs = load_table(spark, sf_dir, "documents").limit(200)
        out = text.pack_nextfit(docs, capacity=256, n_shards=4).collect()
        assert len(out) == docs.count()
        by_shard: dict = {}
        for r in out:
            by_shard.setdefault(r["shard"], []).append(r)
        for shard, rows in by_shard.items():
            rows.sort(key=lambda r: (-r["n_tok"], r["doc_id"]))
            cur_bin, fill = 0, 0
            for r in rows:
                if cur_bin == 0 or fill + r["n_tok"] > 256:
                    cur_bin, fill = cur_bin + 1, r["n_tok"]
                else:
                    fill += r["n_tok"]
                assert (r["bin"], r["fill_after"]) == (cur_bin, fill)
            # no bin overfills unless it holds a single oversized doc
            fills: dict = {}
            for r in rows:
                fills.setdefault(r["bin"], []).append(r["n_tok"])
            for toks in fills.values():
                assert sum(toks) <= 256 or len(toks) == 1

    def test_oversized_doc_gets_own_bin(self, spark):
        from etl_batch_spark.llmops import text

        big = " ".join(f"w{i}" for i in range(400))
        small = "a b c"
        df = spark.createDataFrame(
            [(1, big), (2, small), (3, small)], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in
               text.pack_nextfit(df, capacity=256, n_shards=1).collect()}
        assert out[1]["n_tok"] == 400
        assert out[1]["fill_after"] == 400  # alone in its bin
        assert out[2]["bin"] == out[3]["bin"] != out[1]["bin"]

    def test_string_ids_flow_through_walk(self, spark):
        """doc_id keeps its input type through the pandas walk and the
        output schema: crawl-scale ids are strings, not longs."""
        from etl_batch_spark.llmops import text

        df = spark.createDataFrame(
            [("v1", "a b c"), ("v2", "d e"), ("v3", "f")],
            "doc_id string, text string",
        )
        out = text.pack_nextfit(df, capacity=4, n_shards=1).collect()
        assert {r["doc_id"] for r in out} == {"v1", "v2", "v3"}

    def test_chunk_tokens_no_fully_contained_trailing_chunk(self, spark):
        """50 tokens, size 32, stride 24: window [48,50) is a strict
        subset of window [24,50) — emitting it would duplicate training
        text verbatim."""
        from etl_batch_spark.llmops import text

        df = spark.createDataFrame(
            [(1, " ".join(f"t{i}" for i in range(50)))], "doc_id long, text string"
        )
        chunks = text.chunk_tokens(df, size=32, stride=24).collect()
        assert [r["chunk_idx"] for r in chunks] == [0, 1]
        # and a doc whose last window DOES add tokens keeps it
        df2 = spark.createDataFrame(
            [(1, " ".join(f"t{i}" for i in range(60)))], "doc_id long, text string"
        )
        assert [r["chunk_idx"] for r in text.chunk_tokens(
            df2, size=32, stride=24).collect()] == [0, 1, 2]

    def test_zero_token_doc_has_empty_not_inverted_span(self, spark):
        from etl_batch_spark.llmops import text

        df = spark.createDataFrame(
            [(1, "s1", "a b c"), (2, "s2", "   "), (3, "s3", "d")],
            "doc_id long, source string, text string",
        )
        out = {r["doc_id"]: r for r in
               text.pack_chunks(df, capacity=4).collect()}
        assert out[2]["n_tokens"] == 0
        assert out[2]["chunk_end"] >= out[2]["chunk_start"]  # never inverted


class TestQuantileCalibrate:
    def test_equal_fraction_survives_per_group(self, spark):
        from etl_batch_spark.llmops import sampling

        # source A scores cluster high, source B low: a raw 0.5 cut
        # would keep all of A and none of B; calibrated keeps ~top 20%
        # of each
        rows = [("A", i, 0.8 + i / 1000.0) for i in range(50)]
        rows += [("B", 100 + i, 0.1 + i / 1000.0) for i in range(50)]
        df = spark.createDataFrame(rows, "source string, doc_id long, score double")
        cal = sampling.quantile_calibrate(df, score_col="score", group_col="source")
        kept = cal.filter(F.col("calibrated") >= 0.8).groupBy("source").count()
        counts = {r["source"]: r["count"] for r in kept.collect()}
        assert counts["A"] == counts["B"] == 10
        # monotone within group: higher score never gets lower rank
        a = sorted(
            (r["score"], r["calibrated"])
            for r in cal.filter(F.col("source") == "A").collect()
        )
        assert all(x[1] <= y[1] for x, y in zip(a, a[1:]))

    def test_ties_share_rank(self, spark):
        from etl_batch_spark.llmops import sampling

        df = spark.createDataFrame(
            [("A", 1, 0.5), ("A", 2, 0.5), ("A", 3, 0.9)],
            "source string, doc_id long, score double",
        )
        cal = {
            r["doc_id"]: r["calibrated"]
            for r in sampling.quantile_calibrate(
                df, score_col="score", group_col="source"
            ).collect()
        }
        assert cal[1] == cal[2] == 0.0
        assert cal[3] == 1.0

    def test_null_scores_stay_null_and_do_not_shift_ranks(self, spark):
        from etl_batch_spark.llmops import sampling

        df = spark.createDataFrame(
            [("A", 1, 0.1), ("A", 2, 0.5), ("A", 3, 0.9),
             ("A", 4, None), ("A", 5, None)],
            "source string, doc_id long, score double",
        )
        cal = {
            r["doc_id"]: r["calibrated"]
            for r in sampling.quantile_calibrate(
                df, score_col="score", group_col="source"
            ).collect()
        }
        # NULL = unknown quality, not "worst": propagate, don't rank
        assert cal[4] is None and cal[5] is None
        # real scores ranked over the 3 non-null rows only
        assert (cal[1], cal[2], cal[3]) == (0.0, 0.5, 1.0)


class TestTemperatureSampling:
    def test_alpha_one_is_flat_and_small_strata_upweighted(self, spark):
        from etl_batch_spark.llmops import sampling

        rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
        df = spark.createDataFrame(rows, "doc_id long, src string")
        kept = sampling.temperature_mixture_sample(
            df, key_col="doc_id", strata_col="src", alpha=0.5, total_fraction=0.5
        )
        counts = {r["src"]: r["n"] for r in
                  kept.groupBy("src").agg(F.count(F.lit(1)).alias("n")).collect()}
        # alpha=0.5 pulls the mixture toward the small stratum: its keep
        # *rate* must exceed the big stratum's
        assert counts["small"] / 100 > counts["big"] / 900
        # overall volume lands near the requested 50%
        assert 0.35 <= (counts["small"] + counts["big"]) / 1000 <= 0.65

    def test_membership_stable_across_alpha(self, spark):
        from etl_batch_spark.llmops import sampling

        rows = [(i, "a" if i % 2 else "b") for i in range(400)]
        df = spark.createDataFrame(rows, "doc_id long, src string")
        k1 = {r["doc_id"] for r in sampling.temperature_mixture_sample(
            df, key_col="doc_id", strata_col="src", alpha=0.5, total_fraction=0.3
        ).collect()}
        k2 = {r["doc_id"] for r in sampling.temperature_mixture_sample(
            df, key_col="doc_id", strata_col="src", alpha=0.5, total_fraction=0.6
        ).collect()}
        assert k1 <= k2  # nested: smaller budget is a subset

    def test_null_stratum_is_sampled_not_dropped(self, spark):
        """A NULL stratum is a stratum: its rows must be kept at a
        temperature rate, not silently dropped by the equi-join (which
        would also deflate the other strata's realized volume)."""
        from etl_batch_spark.llmops import sampling

        rows = [(i, "a" if i < 500 else None) for i in range(1000)]
        df = spark.createDataFrame(rows, "doc_id long, src string")
        kept = sampling.temperature_mixture_sample(
            df, key_col="doc_id", strata_col="src", alpha=0.5, total_fraction=0.5
        )
        n_null = kept.filter(F.col("src").isNull()).count()
        assert n_null > 0  # NULL-stratum rows survive
        total = kept.count()
        assert 0.35 <= total / 1000 <= 0.65  # volume calibrated over ALL rows


class TestKMeans:
    def test_matches_numpy_lloyd(self, spark, sf_dir):
        import numpy as np
        from etl_batch_spark.llmops import similarity

        emb = load_table(spark, sf_dir, "embeddings")
        got = {
            r["vec_id"]: r["cluster"]
            for r in similarity.kmeans_lloyd(emb, k=4, max_iterations=3).collect()
        }

        rows = sorted(emb.collect(), key=lambda r: r["vec_id"])
        X = np.array([[float(x) for x in r["embedding"]] for r in rows])
        ids = [r["vec_id"] for r in rows]
        cents = X[:4].copy()
        for _ in range(3):
            d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
            a = d2.argmin(axis=1)  # argmin ties → lowest index, same rule
            new = cents.copy()
            for c in range(4):
                if (a == c).any():
                    new[c] = X[a == c].mean(axis=0)
            if np.array_equal(new, cents):
                break
            cents = new
        d2 = ((X[:, None, :] - cents[None, :, :]) ** 2).sum(axis=2)
        expected = dict(zip(ids, d2.argmin(axis=1)))
        assert got == expected


class TestContainment:
    def test_subset_doc_scores_one(self, spark):
        from etl_batch_spark.llmops import dedup

        short = "alpha beta gamma delta epsilon"
        long_doc = "intro words here " + short + " trailing content follows now"
        docs = spark.createDataFrame(
            [(1, short), (2, long_doc), (3, "totally unrelated text about ships sailing west")],
            "doc_id long, text string",
        )
        rows = dedup.containment_pairs(docs, threshold=0.5).collect()
        assert [(r["doc_a"], r["doc_b"]) for r in rows] == [(1, 2)]
        assert rows[0]["containment"] == 1.0

    def test_threshold_filters(self, spark):
        from etl_batch_spark.llmops import dedup

        docs = spark.createDataFrame(
            [(1, "a b c d e f"), (2, "a b c x y z w q r s t u")],
            "doc_id long, text string",
        )
        # one shared 3-gram ("a b c") out of 4 in the smaller doc -> 0.25
        assert dedup.containment_pairs(docs, threshold=0.5).count() == 0
        rows = dedup.containment_pairs(docs, threshold=0.2).collect()
        assert len(rows) == 1 and rows[0]["containment"] == 0.25


class TestTrainingShards:
    def test_assignment_partition_and_order_independent(self, spark):
        from etl_batch_spark.llmops import sampling

        df = spark.range(0, 500).select(F.col("id").alias("doc_id"))
        a = sampling.shard_assign(df, key_col="doc_id", n_shards=8)
        b = sampling.shard_assign(
            df.repartition(13).sortWithinPartitions(F.desc("doc_id")),
            key_col="doc_id", n_shards=8,
        )
        assert {tuple(r) for r in a.collect()} == {tuple(r) for r in b.collect()}
        # balanced-ish: no shard empty, none > 2x the mean
        sizes = {r["shard"]: r["n"] for r in a.groupBy("shard").agg(F.count("*").alias("n")).collect()}
        assert len(sizes) == 8 and max(sizes.values()) < 2 * (500 / 8)


class TestWeightedTopk:
    def test_exact_k_deterministic_and_positive_weights_only(self, spark):
        from etl_batch_spark.llmops.sampling import weighted_topk_sample

        df = spark.createDataFrame(
            [(i, float(1 + i % 5)) for i in range(100)] + [(200, 0.0), (201, -1.0)],
            "k long, w double",
        )
        a = weighted_topk_sample(df, key_col="k", weight_col="w", k=10)
        b = weighted_topk_sample(df, key_col="k", weight_col="w", k=10)
        rows_a = [r["k"] for r in a.collect()]
        assert rows_a == [r["k"] for r in b.collect()]  # reproducible
        assert len(rows_a) == 10
        assert 200 not in rows_a and 201 not in rows_a

    def test_nested_in_weight_direction(self, spark):
        """A row that wins with weight w keeps winning when ONLY its own
        weight grows (priority is monotone in the weight)."""
        from etl_batch_spark.llmops.sampling import weighted_topk_sample

        base = [(i, 1.0) for i in range(50)]
        df1 = spark.createDataFrame(base, "k long, w double")
        winners = {r["k"] for r in weighted_topk_sample(df1, key_col="k", weight_col="w", k=5).collect()}
        boosted = [(k, 10.0 if k in winners else w) for k, w in base]
        df2 = spark.createDataFrame(boosted, "k long, w double")
        winners2 = {r["k"] for r in weighted_topk_sample(df2, key_col="k", weight_col="w", k=5).collect()}
        assert winners <= winners2

    def test_plan_is_take_ordered_not_global_sort(self, spark):
        from etl_batch_spark.llmops.sampling import weighted_topk_sample

        df = spark.range(1000).select(F.col("id").alias("k"), F.lit(1.0).alias("w"))
        out = weighted_topk_sample(df, key_col="k", weight_col="w", k=5)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert "TakeOrderedAndProject" in plan

    def test_rejects_bad_k(self, spark):
        from etl_batch_spark.llmops.sampling import weighted_topk_sample

        df = spark.createDataFrame([(1, 1.0)], "k long, w double")
        with pytest.raises(ValueError):
            weighted_topk_sample(df, key_col="k", weight_col="w", k=0)

    def test_large_weights_do_not_saturate(self, spark):
        """With uniformly huge weights every u^(1/w) crowds toward 1.0;
        selection must still follow the hash die, not collapse into
        lowest-key order (which is what a rounded priority produced)."""
        from etl_batch_spark.llmops.sampling import weighted_topk_sample

        df = spark.createDataFrame(
            [(i, 1000.0) for i in range(1000)], "k long, w double"
        )
        winners = [
            r["k"]
            for r in weighted_topk_sample(
                df, key_col="k", weight_col="w", k=5
            ).collect()
        ]
        # equal weights ⇒ winners are the 5 largest hash draws, which are
        # not the 5 smallest keys (the rounded-priority failure mode)
        assert winners != [0, 1, 2, 3, 4]
        # deterministic: same call, same winners
        again = [
            r["k"]
            for r in weighted_topk_sample(
                df, key_col="k", weight_col="w", k=5
            ).collect()
        ]
        assert winners == again


class TestMmrTopk:
    def test_string_ids_supported(self, spark):
        """Output id columns are typed from id_col, not hardcoded long."""
        from etl_batch_spark.llmops.similarity import mmr_topk

        rows = [(f"v{i}", [float(i % 3), float(i % 5), 1.0]) for i in range(8)]
        df = spark.createDataFrame(rows, "vec_id string, embedding array<double>")
        out = mmr_topk(df, df.filter(F.col("vec_id") == "v0"), k=3, pool=5).collect()
        assert len(out) == 3 and all(r["query_id"] == "v0" for r in out)

    def test_matches_numpy_greedy_replay(self, spark, sf_dir):
        import numpy as np
        from etl_batch_spark.catalog import load_table
        from etl_batch_spark.llmops.similarity import mmr_topk

        emb = load_table(spark, sf_dir, "embeddings")
        got = {}
        for r in mmr_topk(emb, emb.filter(F.col("vec_id") < 3), k=4, pool=10).collect():
            got.setdefault(r["query_id"], []).append((r["rank"], r["neighbor_id"]))
        rows = emb.collect()
        V = {r["vec_id"]: np.array(r["embedding"], dtype=float) for r in rows}

        def cos(a, b):
            return float(np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b)))

        lam = 0.5
        for qid in (0, 1, 2):
            # replay: pool = exact top-10 by (cosine desc, id), then greedy
            sims = sorted(
                ((round(cos(V[qid], v), 6), -i) for i, v in V.items() if i != qid),
                reverse=True,
            )
            pool = sorted(-i for _, i in sims[:10])
            # the operator's greedy compares 6dp-rounded sims (cross-engine
            # determinism) — the replay must round identically
            rel = {i: round(cos(V[qid], V[i]), 6) for i in pool}
            chosen = []
            while len(chosen) < 4:
                best, best_s = None, -np.inf
                for i in pool:
                    if i in chosen:
                        continue
                    pen = max((round(cos(V[i], V[j]), 6) for j in chosen), default=0.0)
                    s = lam * rel[i] - (1 - lam) * pen
                    if s > best_s or (s == best_s and (best is None or i < best)):
                        best, best_s = i, s
                chosen.append(best)
            assert [n for _, n in sorted(got[qid])] == chosen, f"query {qid}"

    def test_diversity_beats_plain_topk_overlap(self, spark, sf_dir):
        """MMR at lam=0.5 must not return a superset ranking identical
        to plain top-k for every query (otherwise the penalty is dead)."""
        from etl_batch_spark.catalog import load_table
        from etl_batch_spark.llmops.similarity import cosine_topk, mmr_topk

        emb = load_table(spark, sf_dir, "embeddings")
        q = emb.filter(F.col("vec_id") < 10)
        plain = {}
        for r in cosine_topk(emb, q, k=5).collect():
            plain.setdefault(r["query_id"], []).append(r["neighbor_id"])
        mmr = {}
        for r in mmr_topk(emb, q, k=5, pool=20).collect():
            mmr.setdefault(r["query_id"], []).append(r["neighbor_id"])
        assert any(plain[k] != mmr[k] for k in plain)


class TestHotSpanScrub:
    def test_spans_merge_and_edge_docs(self, spark):
        from etl_batch_spark.llmops.dedup import hot_span_scrub

        shared = "alpha beta gamma delta epsilon zeta eta"  # 7 tokens
        rows = [
            (1, shared + " one two three"),          # hot 7-token prefix
            (2, "x y " + shared),                    # same run, offset 2
            (3, "p q r s t u v w"),                  # nothing hot
            (4, "short doc"),                        # < n tokens: no grams
            (5, "r1 r2 r3 r4 r5 mid r1 r2 r3 r4 r5"),  # within-doc repeat
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {r["doc_id"]: r for r in hot_span_scrub(df, n=5, min_count=2).collect()}

        # docs 1 & 2: the 7-token shared run = 3 overlapping hot 5-grams
        # merging into ONE span of 7 tokens
        for d, n_tok in ((1, 10), (2, 9)):
            assert (got[d]["n_spans"], got[d]["n_scrubbed"]) == (1, 7), d
            assert got[d]["n_tokens"] == n_tok
        # doc 3: untouched
        assert (got[3]["n_spans"], got[3]["n_scrubbed"]) == (0, 0)
        assert got[3]["keep_ratio"] == 1.0
        # doc 4: shorter than n -> no grams, fully kept
        assert (got[4]["n_tokens"], got[4]["n_scrubbed"]) == (2, 0)
        # doc 5: "r1 r2 r3 r4 r5" occurs twice WITHIN the doc (multiplicity
        # counts) -> two disjoint 5-token spans
        assert (got[5]["n_spans"], got[5]["n_scrubbed"]) == (2, 10)
        assert got[5]["keep_ratio"] == round(1 - 10 / 11, 4)


class TestMp3FrameCensus:
    def test_census_and_quarantine(self, spark):
        from etl_batch_spark.llmops.mp3 import encode_frames
        from etl_batch_spark.llmops.multimodal import mp3_frame_census

        good = encode_frames(n_frames=6, bitrate_kbps=[64, 128],
                             sample_rate=32000, channels=1, layer=3)
        df = spark.createDataFrame(
            [(1, bytearray(good)), (2, bytearray(b"not an mp3")), (3, None)],
            "doc_id long, payload binary",
        )
        out = {r["doc_id"]: r for r in mp3_frame_census(df).collect()}
        ok = out[1]
        assert ok["n_frames"] == 6 and ok["sample_rate"] == 32000
        assert ok["is_vbr"] and ok["error"] is None
        assert ok["duration_s"] == 6 * 1152 / 32000
        # a bad payload quarantines with its codec error; census never dies
        assert out[2]["n_frames"] is None and "Mp3Error" in out[2]["error"]
        assert out[3]["error"].startswith("NullPayload")

    def test_string_id_column(self, spark):
        from etl_batch_spark.llmops.mp3 import encode_frames
        from etl_batch_spark.llmops.multimodal import mp3_frame_census

        df = spark.createDataFrame(
            [("u://a", bytearray(encode_frames(n_frames=2, sample_rate=44100)))],
            "doc_id string, payload binary",
        )
        out = mp3_frame_census(df).collect()
        assert out[0]["doc_id"] == "u://a" and out[0]["n_frames"] == 2


class TestOggMetadataCensus:
    def test_census_and_quarantine(self, spark):
        from etl_batch_spark.llmops.multimodal import ogg_metadata_census
        from etl_batch_spark.llmops.oggv import encode_ogg

        good = encode_ogg(codec="opus", sample_rate=16000, channels=2,
                          n_samples=48000, pre_skip=312,
                          comments={"ARTIST": "a", "TITLE": "t"})
        corrupt = bytearray(good)
        corrupt[-1] ^= 0x01  # CRC must catch this
        df = spark.createDataFrame(
            [(1, bytearray(good)), (2, corrupt), (3, None)],
            "doc_id long, payload binary",
        )
        out = {r["doc_id"]: r for r in ogg_metadata_census(df).collect()}
        ok = out[1]
        assert ok["codec"] == "opus" and ok["duration_s"] == 1.0
        assert (ok["artist"], ok["title"]) == ("a", "t") and ok["error"] is None
        assert out[2]["codec"] is None and "CRC" in out[2]["error"]
        assert out[3]["error"].startswith("NullPayload")


class TestFlacMetadataCensus:
    def test_census_and_quarantine(self, spark):
        from etl_batch_spark.llmops.flac import encode_flac
        from etl_batch_spark.llmops.multimodal import flac_metadata_census

        good = encode_flac(n_frames=4, block_size=1024, last_block=500,
                           sample_rate=22050, channels=2, bits=24,
                           comments={"ARTIST": "a", "TITLE": "t"})
        corrupt = bytearray(good)
        # STREAMINFO rate byte: frames now contradict the stream header
        corrupt[18] ^= 0xFF
        df = spark.createDataFrame(
            [(1, bytearray(good)), (2, corrupt), (3, None)],
            "doc_id long, payload binary",
        )
        out = {r["doc_id"]: r for r in flac_metadata_census(df).collect()}
        ok = out[1]
        assert (ok["sample_rate"], ok["channels"], ok["bits_per_sample"]) == (
            22050, 2, 24,
        )
        assert ok["total_samples"] == 3 * 1024 + 500
        assert ok["duration_s"] == (3 * 1024 + 500) / 22050
        assert ok["n_frames"] == 4
        assert (ok["artist"], ok["title"]) == ("a", "t") and ok["error"] is None
        assert out[2]["sample_rate"] is None and "FlacError" in out[2]["error"]
        assert out[3]["error"].startswith("NullPayload")


class TestMp4TrackCensus:
    def test_census_and_quarantine(self, spark):
        from etl_batch_spark.llmops.mp4 import encode_mp4
        from etl_batch_spark.llmops.multimodal import mp4_track_census

        good = encode_mp4(
            video=dict(n_samples=48, timescale=24000, sample_delta=1001,
                       width=640, height=360),
            audio=dict(n_samples=94, timescale=44100, sample_delta=1024,
                       channels=2, sample_rate=44100),
        )
        df = spark.createDataFrame(
            [(1, bytearray(good)), (2, bytearray(good[: len(good) // 2])),
             (3, None)],
            "doc_id long, payload binary",
        )
        out = {r["doc_id"]: r for r in mp4_track_census(df).collect()}
        ok = out[1]
        assert ok["major_brand"] == "isom" and ok["n_tracks"] == 2
        assert (ok["video_codec"], ok["width"], ok["height"]) == ("avc1", 640, 360)
        assert ok["video_duration_s"] == 48 * 1001 / 24000
        assert ok["video_samples"] == 48
        assert (ok["audio_codec"], ok["audio_channels"], ok["audio_rate"]) == (
            "mp4a", 2, 44100,
        )
        assert ok["audio_duration_s"] == 94 * 1024 / 44100
        assert ok["error"] is None
        assert out[2]["n_tracks"] is None and "Mp4Error" in out[2]["error"]
        assert out[3]["error"].startswith("NullPayload")

    def test_audio_only_payload_has_null_video_columns(self, spark):
        from etl_batch_spark.llmops.mp4 import encode_mp4
        from etl_batch_spark.llmops.multimodal import mp4_track_census

        df = spark.createDataFrame(
            [(1, bytearray(encode_mp4(audio=dict(
                n_samples=10, timescale=8000, sample_delta=160,
                channels=1, sample_rate=8000))))],
            "doc_id long, payload binary",
        )
        (row,) = mp4_track_census(df).collect()
        assert row["video_codec"] is None and row["width"] is None
        assert row["audio_duration_s"] == 10 * 160 / 8000


class TestWebpStructureCensus:
    def test_census_and_quarantine(self, spark):
        from etl_batch_spark.llmops.multimodal import webp_structure_census
        from etl_batch_spark.llmops.webp import encode_webp

        good = encode_webp(width=40, height=30, alpha=True, exif=True,
                           icc=True, frame_durations_ms=[40, 60, 90])
        df = spark.createDataFrame(
            [(1, bytearray(good)), (2, bytearray(good[: len(good) // 2])),
             (3, None)],
            "doc_id long, payload binary",
        )
        out = {r["doc_id"]: r for r in webp_structure_census(df).collect()}
        ok = out[1]
        assert (ok["variant"], ok["width"], ok["height"]) == ("extended", 40, 30)
        assert (ok["has_alpha"], ok["is_animated"]) == (True, True)
        assert (ok["n_frames"], ok["duration_ms"]) == (3, 190)
        assert (ok["has_exif"], ok["has_icc"]) == (True, True)
        assert ok["error"] is None
        assert out[2]["variant"] is None and "WebpError" in out[2]["error"]
        assert out[3]["error"].startswith("NullPayload")


class TestUrlCuration:
    def test_normalize_url_rules(self, spark):
        from etl_batch_spark.llmops.text import normalize_url

        cases = [
            # lowercase scheme+host, strip default port, drop fragment,
            # strip www., drop tracking params around a kept one
            ("HTTP://WWW.Site1.COM:80/p/ab/?utm_source=x&id=5&gclid=1#f",
             "http://site1.com/p/ab?id=5"),
            ("https://cdn.site2.co.uk:443/p/cd?id=7",
             "https://cdn.site2.co.uk/p/cd?id=7"),
            # explicit non-default port survives; trailing slash stripped
            ("https://a.b.io:8080/p/e/", "https://a.b.io:8080/p/e"),
            # all params tracking -> no '?'
            ("http://x.org/p?utm_campaign=z&fbclid=1", "http://x.org/p"),
            # mismatched default port (443 on http) survives
            ("http://x.org:443/p", "http://x.org:443/p"),
            # param ORDER of kept params preserved
            ("http://x.org/p?b=2&utm_medium=m&a=1", "http://x.org/p?b=2&a=1"),
            # tracking strip is case-insensitive and valueless-tolerant:
            # the same resource under shouting/bare tags must converge
            ("http://x.org/p?UTM_SOURCE=x&id=5", "http://x.org/p?id=5"),
            ("http://x.org/p?Gclid=1&id=5", "http://x.org/p?id=5"),
            ("http://x.org/p?fbclid&id=5", "http://x.org/p?id=5"),
            # but a NON-tracking param that merely prefixes one survives
            ("http://x.org/p?gclid_like=1", "http://x.org/p?gclid_like=1"),
            (None, None),
        ]
        df = spark.createDataFrame([(u,) for u, _ in cases], "url string")
        got = [r["n"] for r in df.select(
            normalize_url(F.col("url")).alias("n")).collect()]
        assert got == [e for _, e in cases]

    def test_registered_domain_rules(self, spark):
        from etl_batch_spark.llmops.text import registered_domain

        cases = [
            ("www.site1.com:8080", "site1.com"),   # port + sub stripped
            ("cdn.a.site2.co.uk", "site2.co.uk"),  # multi-label suffix
            ("site3.com.au", "site3.com.au"),
            ("SITE4.ORG", "site4.org"),
            ("localhost", "localhost"),            # single label passes
            (None, None),
            # full-PSL rule classes (vendored Mozilla list, llmops.psl)
            ("a.user.github.io", "user.github.io"),  # PRIVATE section
            ("b.site.com.sg", "site.com.sg"),        # beyond co.uk family
            ("www.x.act.edu.au", "x.act.edu.au"),    # 3-label exact rule
            ("a.b.anything.ck", "b.anything.ck"),    # wildcard *.ck
            ("foo.www.ck", "www.ck"),                # exception !www.ck
            ("www.ck", "www.ck"),                    # exception IS the host
            # exception under a wildcard (*.kawasaki.jp family)
            ("deep.sub.city.kawasaki.jp", "city.kawasaki.jp"),
            ("x.other.kawasaki.jp", "x.other.kawasaki.jp"),
            ("site9.unknowntld", "site9.unknowntld"),  # default '*' rule
            ("com.au", "com.au"),          # host IS a suffix: degrade
            ("github.io", "github.io"),    # ...private suffix likewise
        ]
        df = spark.createDataFrame([(h,) for h, _ in cases], "h string")
        got = [r["d"] for r in df.select(
            registered_domain(F.col("h")).alias("d")).collect()]
        assert got == [e for _, e in cases]

    def test_join_variant_matches_column_variant(self, spark):
        """with_registered_domain (broadcast-join hot path) and
        registered_domain (InSet column expression) are the same PSL
        algorithm twice — they must agree bit-for-bit, including on
        every rule class and on hosts that are themselves suffixes."""
        from etl_batch_spark.llmops.text import (
            registered_domain, with_registered_domain,
        )

        hosts = [
            "www.site1.com:8080", "cdn.a.site2.co.uk", "site3.com.au",
            "SITE4.ORG", "localhost", None, "a.user.github.io",
            "www.x.act.edu.au", "a.b.anything.ck", "foo.www.ck", "www.ck",
            "deep.sub.city.kawasaki.jp", "x.other.kawasaki.jp",
            "site9.unknowntld", "com.au", "github.io", "b.site.com.sg",
            "a.b.c.d.e.f.example.com", "xn--bcher-kva.example",
        ]
        df = spark.createDataFrame([(h,) for h in hosts], "h string")
        joined = {
            r["h"]: r["d"]
            for r in with_registered_domain(df, "h", "d").collect()
        }
        col = {
            r["h"]: r["d"]
            for r in df.select(
                "h", registered_domain(F.col("h")).alias("d")
            ).collect()
        }
        assert joined == col
        # spot-pin the PSL classes so BOTH variants drifting together
        # still fails
        assert joined["a.user.github.io"] == "user.github.io"
        assert joined["foo.www.ck"] == "www.ck"
        assert joined["a.b.anything.ck"] == "b.anything.ck"
        assert joined["deep.sub.city.kawasaki.jp"] == "city.kawasaki.jp"

    def test_psl_rule_sets_parse_sanely(self):
        from etl_batch_spark.llmops.psl import MAX_SUFFIX_LABELS, load_rules

        exact, wild, exc = load_rules()
        # shape of the published list (counts drift as the list evolves;
        # the bounds catch a truncated or mis-parsed vendored file)
        assert len(exact) > 8_000 and len(wild) > 80 and len(exc) >= 8
        assert "com" in exact and "co.uk" in exact and "github.io" in exact
        assert "ck" in wild and "kawasaki.jp" in wild
        assert "www.ck" in exc and "city.kawasaki.jp" in exc
        assert not any(r.startswith(("!", "*")) for s in (exact, wild, exc)
                       for r in s)
        assert max(r.count(".") + 1 for r in exact) <= MAX_SUFFIX_LABELS


class TestLineDedup:
    def test_first_occurrence_semantics_and_reassembly(self, spark):
        from etl_batch_spark.llmops.dedup import dedup_lines_global

        docs = spark.createDataFrame(
            [
                (1, "a\nb\na"),   # within-doc repeat: second 'a' drops
                (2, "b\nc"),      # 'b' owned by doc 1
                (3, ""),          # one empty line, first '' occurrence
                (4, "\nz"),       # its '' is owned by doc 3
                (5, None),        # NULL text excluded
                (None, "q"),      # NULL id excluded
            ],
            "doc_id long, text string",
        )
        got = {
            r["doc_id"]: (r["text_dedup"], r["n_kept"], r["n_dropped"])
            for r in dedup_lines_global(docs).collect()
        }
        assert got == {
            1: ("a\nb", 2, 1),
            2: ("c", 1, 1),
            3: ("", 1, 0),
            4: ("z", 1, 1),
        }

    def test_plan_has_no_line_partitioned_window(self, spark):
        """The blank-line hot key must be absorbed by partial
        aggregation, not a data-sized window partition."""
        from etl_batch_spark.llmops.dedup import dedup_lines_global

        docs = spark.createDataFrame([(1, "a\nb")], "doc_id long, text string")
        plan = (
            dedup_lines_global(docs)
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Window" not in plan
        assert "partial_min" in plan or "HashAggregate" in plan


class TestPslReferenceCross:
    """Third-implementation cross-check: a direct Python transcription
    of the PSL algorithm (https://publicsuffix.org/list/) validated
    against BOTH Spark forms over generated hosts spanning every rule
    class.  The two Spark variants already cross-check each other
    (test_join_variant_matches_column_variant); this pins them to an
    independent reading of the spec, so all three drifting together
    would require the same misreading three times."""

    @staticmethod
    def _py_registered_domain(host, exact, wild, exc):
        import re as _re

        if host is None:
            return None
        h = _re.sub(r":\d+$", "", host.lower())
        labels = h.split(".")
        n = len(labels)
        if n <= 1:
            return h
        # exception rules prevail: the rule itself is the registrable
        # domain for any host ending in it
        for k in range(min(n, 5), 1, -1):
            if ".".join(labels[n - k:]) in exc:
                return ".".join(labels[n - k:])
        s = 1  # default '*' rule
        for k in range(2, min(n, 5) + 1):
            cand = ".".join(labels[n - k:])
            parent = ".".join(labels[n - (k - 1):])
            if cand in exact or parent in wild:
                s = max(s, k)
        return ".".join(labels[n - (s + 1):]) if n > s else h

    def test_generated_hosts_agree_with_python_reference(self, spark):
        import random

        from etl_batch_spark.llmops.psl import load_rules
        from etl_batch_spark.llmops.text import (
            registered_domain, with_registered_domain,
        )

        exact, wild, exc = load_rules()
        rng = random.Random(42)
        ascii_exact = sorted(r for r in exact if r.isascii())
        prefixes = ["", "a.", "www.", "x9.deep.sub.", "A.B."]
        hosts: "list[str]" = []
        for rule in rng.sample(ascii_exact, 120):
            hosts.append(rng.choice(prefixes) + "site" +
                         str(rng.randint(0, 99)) + "." + rule)
            if rng.random() < 0.2:
                hosts.append(rule)  # host IS a suffix
        for parent in rng.sample(sorted(wild), 40):
            hosts.append(rng.choice(prefixes) + "zone" +
                         str(rng.randint(0, 99)) + "." + parent)
            hosts.append(parent)  # wildcard parent with no child label
        for rule in sorted(exc):
            hosts.append(rule)
            hosts.append("deep.sub." + rule)
        hosts += ["plainhost", "a.b.unknowntld", "x:8080",
                  "UPPER.CASE.COM:443"]
        rng.shuffle(hosts)

        expected = {
            h: self._py_registered_domain(h, exact, wild, exc)
            for h in hosts
        }
        df = spark.createDataFrame([(h,) for h in hosts], "h string") \
            .dropDuplicates(["h"])
        got_join = {
            r["h"]: r["d"]
            for r in with_registered_domain(df, "h", "d").collect()
        }
        assert got_join == {h: expected[h] for h in got_join}
        got_col = {
            r["h"]: r["d"]
            for r in df.select(
                "h", registered_domain(F.col("h")).alias("d")
            ).collect()
        }
        assert got_col == got_join


class TestRowLocalArgminRewrite:
    """Round-11 rewrite: ivf/pq/semantic-dedup assignment argmin runs
    row-locally against plan-literal codebooks.  These pin the edge
    contracts the rewrite had to preserve (and the ADVICE fix)."""

    def _adv_corpus(self, spark):
        # NULL embedding at the MIN id (the old _pq_parts dim probe
        # crashed on len(None)), a NULL vector element, duplicate ids
        # (exact copies — the collapse grain), and normal rows
        base = [float(i) / 7.0 + 0.1 for i in range(64)]
        rows = [
            (0, None),
            (1, base),
            (2, [x * 0.5 for x in base]),
            (3, [None] + base[1:]),
            (2, [x * 0.5 for x in base]),  # exact duplicate ingest
        ]
        return spark.createDataFrame(
            rows, "vec_id bigint, embedding array<double>"
        )

    def test_pq_parts_null_min_id_seed(self, spark):
        """ADVICE item: dim probe must read the first NON-NULL seed."""
        from etl_batch_spark.llmops import similarity

        corp = self._adv_corpus(spark)
        codes = _pq_codes(corp, m=8, ks=4).collect()
        # every distinct id encodes once per subspace (dup id collapsed)
        assert len(codes) == 4 * 8
        assert {r["vec_id"] for r in codes} == {0, 1, 2, 3}

    def test_pq_parts_all_null_seeds_degrade_empty(self, spark):
        from etl_batch_spark.llmops import similarity

        corp = spark.createDataFrame(
            [(0, None), (1, None)], "vec_id bigint, embedding array<double>"
        )
        assert _pq_codes(corp, m=8, ks=2).count() == 0

    def test_ivf_assign_collapses_duplicate_ids(self, spark):
        from pyspark.sql import functions as F

        from etl_batch_spark.llmops import similarity

        corp = self._adv_corpus(spark)
        out = similarity.ivf_topk(
            corp, corp.filter(F.col("vec_id") == 1), k=3, n_centroids=4, nprobe=2
        )
        # duplicate corpus ids must yield at most one candidate row each
        rows = out.collect()
        assert len({(r["query_id"], r["neighbor_id"]) for r in rows}) == len(rows)

    def test_semantic_dedup_one_row_per_id(self, spark):
        from etl_batch_spark.llmops import similarity

        corp = self._adv_corpus(spark)
        out = similarity.semantic_dedup(corp, n_clusters=4, threshold=0.35).collect()
        assert len(out) == 4  # 5 input rows, one duplicate id collapsed
        assert {r["vec_id"] for r in out} == {0, 1, 2, 3}

    def test_sql_double_roundtrip(self, spark):
        """The literal formatter must round-trip IEEE doubles exactly."""
        import math

        from etl_batch_spark.llmops.similarity import _sql_double

        vals = [0.1, 1.0 / 3.0, -0.0, 5e-324, 1.7976931348623157e308,
                float("nan"), float("inf"), float("-inf"), None]
        exprs = ",".join(_sql_double(v) for v in vals)
        got = spark.sql(f"select array({exprs}) as a").collect()[0]["a"]
        for v, g in zip(vals, got):
            if v is None:
                assert g is None
            elif isinstance(v, float) and math.isnan(v):
                assert math.isnan(g)
            else:
                assert g == v and math.copysign(1, g) == math.copysign(1, v)
