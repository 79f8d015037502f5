"""Training-data pipeline operators: dedup suite, similarity search,
text analysis, multimodal plumbing."""

from __future__ import annotations

import math

import numpy as np
import pytest
from pyspark.sql import functions as F

from fences_spark.operators import dedup as D
from fences_spark.operators import similarity as S
from fences_spark.operators import text as TX
from fences_spark.operators.multimodal import (
    extract_features,
    sample_frames,
    synth_media_table,
)

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs_with_dups(spark):
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    # plant exact + near duplicates with known ids
    base = docs.limit(10).select("doc_id", "text")
    exact = base.select((F.col("doc_id") + 100000).alias("doc_id"), "text")
    near = base.select(
        (F.col("doc_id") + 200000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" zzzz")).alias("text"),
    )
    return docs.select("doc_id", "text").unionByName(exact).unionByName(near)


class TestMinHashLSH:
    def test_exact_dups_always_pair(self, spark, docs_with_dups):
        pairs = D.minhash_lsh_pairs(docs_with_dups, "doc_id", "text").collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        for i in range(10):
            assert (i, i + 100000) in got, f"exact dup {i} not paired"

    def test_near_dups_mostly_pair(self, spark, docs_with_dups):
        pairs = D.minhash_lsh_pairs(docs_with_dups, "doc_id", "text").collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        hits = sum((i, i + 200000) in got for i in range(10))
        assert hits >= 7, f"only {hits}/10 near dups paired"

    def test_signature_matches_python_ground_truth(self, spark):
        """Regression for a Spark 4.1 miscompilation: stacking many
        higher-order transforms over one projected shingle array
        produced cross-row-contaminated minima.  The explode+agg form
        must match a driver-side md5 reference exactly."""
        import hashlib
        import re

        docs = spark.read.parquet(f"{SF}/documents.parquet").limit(20)
        got = {
            r["doc_id"]: list(r["sig"])
            for r in D.minhash_signatures(docs, "doc_id", "text", n_hashes=6).collect()
        }
        for row in docs.collect():
            toks = [t for t in re.split("[^a-z0-9]+", (row["text"] or "").lower()) if t]
            sh = (
                list(dict.fromkeys(" ".join(toks[i : i + 3]) for i in range(len(toks) - 2)))
                if len(toks) >= 3
                else [" ".join(toks)]
            )
            exp = [
                min(hashlib.md5(f"{s}:{x}".encode()).hexdigest() for x in sh)
                for s in range(6)
            ]
            assert got[row["doc_id"]] == exp, row["doc_id"]

    def test_jaccard_estimate_close_to_exact(self, spark, docs_with_dups):
        pairs = D.minhash_lsh_pairs(docs_with_dups, "doc_id", "text")
        est = {
            (r["id_a"], r["id_b"]): r["jaccard_est"]
            for r in D.minhash_jaccard_estimate(docs_with_dups, pairs, "doc_id", "text").collect()
        }
        exact = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.ngram_jaccard_pairs(docs_with_dups, "doc_id", "text", threshold=0.0).collect()
        }
        for pair, e in est.items():
            if pair in exact:
                assert abs(e - exact[pair]) < 0.25, (pair, e, exact[pair])
        for i in range(10):
            assert est[(i, i + 100000)] == 1.0


class TestNgramJaccard:
    def test_matches_python_reference(self, spark):
        rows = [(1, "a b c d e f"), (2, "a b c d e g"), (3, "x y z w v u")]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        got = {
            (r["id_a"], r["id_b"]): r["jaccard"]
            for r in D.ngram_jaccard_pairs(df, "doc_id", "text", shingle_k=3, threshold=0.0).collect()
        }

        def shingles(t):
            w = t.split()
            return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

        s1, s2 = shingles(rows[0][1]), shingles(rows[1][1])
        expect = len(s1 & s2) / len(s1 | s2)
        assert got[(1, 2)] == pytest.approx(expect, abs=1e-6)
        assert (1, 3) not in got  # no shared shingle → never joined


class TestSimHash:
    def test_identical_same_signature(self, spark, docs_with_dups):
        groups = D.simhash_dup_groups(docs_with_dups, "doc_id", "text").collect()
        # every planted exact dup must share a signature with its source
        sims = D.simhash_table(docs_with_dups, "doc_id", "text").collect()
        by_id = {r["doc_id"]: r["sim"] for r in sims}
        for i in range(10):
            assert by_id[i] == by_id[i + 100000]
        assert len(groups) >= 1

    def test_near_pairs_small_hamming(self, spark, docs_with_dups):
        pairs = D.simhash_near_pairs(docs_with_dups, "doc_id", "text").collect()
        got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
        assert all(h < 4 for h in got.values())
        hits = sum((i, i + 100000) in got for i in range(10))
        assert hits == 10  # identical docs: hamming 0, always found


class TestSimilarity:
    @pytest.fixture(scope="class")
    def emb(self, spark):
        return spark.read.parquet(f"{SF}/embeddings.parquet")

    def test_cosine_topk_matches_numpy(self, spark, emb):
        queries = emb.limit(5)
        got = S.cosine_topk(queries, emb, k=3).collect()
        rows = emb.collect()
        vecs = {r["vec_id"]: np.array(r["embedding"], dtype=np.float64) for r in rows}
        for q in queries.collect():
            qv = vecs[q["vec_id"]]
            sims = sorted(
                (
                    (round(float(np.dot(qv, v) / (np.linalg.norm(qv) * np.linalg.norm(v))), 6), -i)
                    for i, v in vecs.items()
                    if i != q["vec_id"]
                ),
                reverse=True,
            )[:3]
            expect = {-i for _, i in sims}
            mine = {r["neighbor_id"] for r in got if r["query_id"] == q["vec_id"]}
            assert mine == expect, (q["vec_id"], mine, expect)

    def test_ann_recall(self, spark, emb):
        queries = emb.limit(50)
        exact = S.cosine_topk(queries, emb, k=5)
        approx = S.ann_topk_lsh(queries, emb, k=5)
        r = S.recall_at_k(exact, approx, 5)
        assert r >= 0.7, f"recall@5 = {r}"

    def test_near_dup_exact_finds_planted_pair(self, spark, emb):
        # plant a near-duplicate of vec 0 (tiny perturbation) with id 100000
        dup = emb.filter(F.col("vec_id") == 0).select(
            F.lit(100000).alias("vec_id"),
            F.transform(
                F.col("embedding").cast("array<double>"), lambda x: x * 1.001
            ).alias("embedding"),
        )
        corpus = emb.select("vec_id", F.col("embedding").cast("array<double>").alias("embedding")).unionByName(dup)
        pairs = S.embedding_near_dup_pairs(
            corpus, threshold=0.99, use_lsh_prefilter=False
        ).collect()
        got = {(r["id_a"], r["id_b"]) for r in pairs}
        assert (0, 100000) in got
        # near-orthogonal synthetic vectors: no false positives at 0.99
        assert all(b == 100000 or a == 100000 or a == b for a, b in got) or len(got) == 1

    def test_near_dup_lsh_prefilter_precision_and_recall(self, spark, emb):
        """LSH prefilter is a HIGH-threshold tool: sign-sketch collision
        probability per table is (1−θ/π)^planes, so low-cos pairs are
        (correctly) rarely candidates.  Plant true near-dups and check
        precision 1.0 + near-dup recall."""
        dups = emb.filter(F.col("vec_id") < 20).select(
            (F.col("vec_id") + 100000).alias("vec_id"),
            F.transform(
                F.col("embedding").cast("array<double>"), lambda x: x * 1.001
            ).alias("embedding"),
        )
        corpus = emb.select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        ).unionByName(dups)
        exact = {
            (r["id_a"], r["id_b"])
            for r in S.embedding_near_dup_pairs(
                corpus, threshold=0.99, use_lsh_prefilter=False
            ).collect()
        }
        lsh = {
            (r["id_a"], r["id_b"])
            for r in S.embedding_near_dup_pairs(
                corpus, threshold=0.99, dim=64, use_lsh_prefilter=True
            ).collect()
        }
        # precision 1.0: every LSH pair is a true pair (re-ranked by exact cosine)
        assert lsh <= exact
        planted = {(i, i + 100000) for i in range(20)}
        assert planted <= exact
        found = len(planted & lsh)
        assert found >= 18, f"LSH found only {found}/20 planted near-dups"

    def test_near_dup_default_is_lsh_with_inferred_dim(self, spark, emb):
        """The function DEFAULT is the scale path: LSH prefilter with
        dim inferred by a one-row probe — the plan must be an
        equi-join on (table, bucket), never a nested-loop/cartesian,
        and its output a subset of the exact baseline (precision 1)."""
        sub = emb.filter(F.col("vec_id") < 100).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
        df = S.embedding_near_dup_pairs(sub, threshold=0.2)
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "NestedLoop" not in plan and "Cartesian" not in plan
        lsh = {(r["id_a"], r["id_b"]) for r in df.collect()}
        exact = {
            (r["id_a"], r["id_b"])
            for r in S.embedding_near_dup_pairs(
                sub, threshold=0.2, use_lsh_prefilter=False
            ).collect()
        }
        assert lsh <= exact and lsh

    def test_ivf_recall(self, spark, emb):
        centroids = S.ivf_fit_centroids(emb, n_cells=8, seed=7)
        assert len(centroids) == 8 and len(centroids[0]) == 64
        queries = emb.limit(50)
        exact = S.cosine_topk(queries, emb, k=5)
        approx = S.ivf_topk(queries, emb, centroids, k=5, nprobe=3)
        r = S.recall_at_k(exact, approx, 5)
        assert r >= 0.6, f"IVF recall@5 = {r}"

    def test_ivf_det_fit_deterministic_and_usable(self, spark, emb):
        """The oracle-reproducible fit: identical across runs (no RNG,
        means rounded) and a working quantizer — non-trivial recall
        with the same search path as the MLlib fit."""
        c1 = S.ivf_fit_centroids_det(emb, dim=64, n_cells=8, iters=1)
        c2 = S.ivf_fit_centroids_det(emb, dim=64, n_cells=8, iters=1)
        assert c1 == c2
        assert len(c1) == 8 and all(len(c) == 64 for c in c1)
        # rounded recenter: every coordinate sits on the 1e-6 grid
        assert all(x == round(x, 6) for c in c1 for x in c)
        queries = emb.limit(50)
        exact = S.cosine_topk(queries, emb, k=5)
        approx = S.ivf_topk(queries, emb, c1, k=5, nprobe=3)
        r = S.recall_at_k(exact, approx, 5)
        assert r >= 0.5, f"det-IVF recall@5 = {r}"

    def test_ivf_det_fit_matches_duckdb(self, spark, emb):
        """Cross-engine fit parity — the assumption the ann_ivf_topk
        oracle rests on: DuckDB re-derives the exact same rounded
        centroids from the same table (6-dp rounding absorbs the
        engines' different float summation orders)."""
        import duckdb

        spark_c = S.ivf_fit_centroids_det(emb, dim=64, n_cells=8, iters=1)
        d_expr = "list_sum(list_transform(range(1, 65), i -> (e[i]-c[i])*(e[i]-c[i])))"
        duck = duckdb.sql(f"""
WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e
           FROM '{SF}/embeddings.parquet'),
c0 AS (
  SELECT cell, e AS c FROM (
    SELECT row_number() OVER (ORDER BY vec_id) - 1 AS cell, e
    FROM v ORDER BY vec_id LIMIT 8)
),
a1 AS (
  SELECT vec_id, cell FROM (
    SELECT vec_id, cell, row_number() OVER (PARTITION BY vec_id ORDER BY d, cell) AS rn
    FROM (SELECT v.vec_id, c0.cell, {d_expr} AS d FROM v CROSS JOIN c0)
  ) WHERE rn = 1
),
cm AS (
  SELECT a1.cell, r.i AS dim, round(avg(v.e[r.i]), 6) AS m
  FROM a1 JOIN v USING (vec_id) CROSS JOIN range(1, 65) r(i)
  GROUP BY a1.cell, r.i
)
SELECT c0.cell, coalesce(cl.c, c0.c) AS c
FROM c0 LEFT JOIN (
  SELECT cell, list(m ORDER BY dim) AS c FROM cm GROUP BY cell) cl
USING (cell)
ORDER BY cell
""").fetchall()
        duck_c = [list(map(float, row[1])) for row in duck]
        assert spark_c == duck_c


class TestText:
    def test_token_counts(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello, world! 42 foo_bar"), (2, ""), (3, None)],
            "id long, text string",
        )
        out = {r["id"]: r for r in df.select(
            "id",
            TX.whitespace_token_count(F.col("text")).alias("n"),
            TX.bpeish_token_count(F.col("text")).alias("nb"),
        ).collect()}
        # tokens: hello world 42 foo bar → 5
        assert out[1]["n"] == 5
        # bpe-ish: Hello , world ! 4 2 foo _ bar → 9
        assert out[1]["nb"] == 9
        assert out[2]["n"] == 0

    def test_language_id(self, spark):
        rows = [
            (1, "the cat and the dog of it is that for"),
            (2, "der hund und die katze ist von den nicht"),
            (3, "le chat et la maison est pour les de"),
            (4, "el perro y la casa es que los un una"),
            (5, "qwerty zxcvb"),
        ]
        df = spark.createDataFrame(rows, "id long, text string")
        got = {r["id"]: r["lang"] for r in df.select("id", TX.language_id(F.col("text")).alias("lang")).collect()}
        assert got[1] == "en" and got[2] == "de" and got[3] == "fr" and got[4] == "es"
        assert got[5] == "und"

    def test_quality_score_bounds(self, spark):
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        stats = docs.select(TX.quality_score(F.col("text")).alias("q")).agg(
            F.min("q").alias("mn"), F.max("q").alias("mx")
        ).collect()[0]
        assert 0.0 <= stats["mn"] <= stats["mx"] <= 1.0

    def test_fingerprints(self, spark):
        df = spark.createDataFrame(
            [(1, "Some Document!"), (2, "some   document"), (3, "other text")],
            "id long, text string",
        )
        fp = {r["id"]: r["f"] for r in df.select("id", TX.doc_fingerprint(F.col("text")).alias("f")).collect()}
        assert fp[1] == fp[2]  # normalization-invariant
        assert fp[1] != fp[3]

    def test_winnow_subset_on_containment(self, spark):
        a = "the quick brown fox jumps over the lazy dog again and again"
        df = spark.createDataFrame([(1, a), (2, a + " with an extra tail sentence")],
                                   "id long, text string")
        rows = {r["id"]: set(r["w"]) for r in df.select(
            "id", TX.winnow_fingerprints(F.col("text")).alias("w")).collect()}
        overlap = len(rows[1] & rows[2]) / len(rows[1])
        assert overlap >= 0.8  # winnowing is robust to appends

    def test_text_profile_runs(self, spark):
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        prof = TX.text_profile(docs, "doc_id", "text")
        assert prof.count() == docs.count()
        assert "quality" in prof.columns and "lang_pred" in prof.columns


class TestMultimodal:
    def test_feature_extraction_shapes(self, spark):
        media = synth_media_table(spark, 100)
        feats = extract_features(media)
        rows = feats.collect()
        assert len(rows) == 100
        assert all(len(r["feature"]) == 8 for r in rows)
        assert all(0.0 <= x <= 1.0 for r in rows for x in r["feature"])
        # deterministic
        again = extract_features(synth_media_table(spark, 100)).collect()
        assert {r["media_id"]: tuple(r["feature"]) for r in rows} == {
            r["media_id"]: tuple(r["feature"]) for r in again
        }

    def test_frame_sampling(self, spark):
        media = synth_media_table(spark, 60)
        frames = sample_frames(media, every_ms=10_000, max_frames=4)
        agg = frames.groupBy("media_id").count().collect()
        assert all(1 <= r["count"] <= 4 for r in agg)
        n_videos = media.filter("modality = 'video'").count()
        assert len(agg) == n_videos

    def test_real_decode_rejects_opaque_payloads(self, spark):
        """Hash-byte payloads are no recognizable container: real
        decode refuses them with the codec-library message (the
        succeeding real path is covered by tests/test_codecs.py)."""
        media = synth_media_table(spark, 3)
        with pytest.raises(Exception, match="NotImplementedError|BMP/WAV/RAWV"):
            extract_features(media, decode="real").collect()

    def test_entry_queries_match_duckdb(self, spark):
        """The mapInPandas boundary is value-hash gated: the fake-decode
        features and frame hashes must be re-derivable in pure SQL
        (entry queries multimodal_features / multimodal_frames)."""
        import duckdb

        from fences_spark.entry_queries import (
            ORACLE_SQL,
            q_multimodal_features,
            q_multimodal_frames,
        )

        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{SF}/documents.parquet'")
        for q, name in [
            (q_multimodal_features, "multimodal_features"),
            (q_multimodal_frames, "multimodal_frames"),
        ]:
            got = {tuple(str(c) for c in r) for r in q(spark, SF).collect()}
            want = {tuple(str(c) for c in r) for r in con.execute(ORACLE_SQL[name]).fetchall()}
            assert got == want, f"{name}: {len(got ^ want)} differing rows"


class TestConnectedComponents:
    def test_chain_and_separate_components(self, spark):
        from fences_spark.operators.dedup import cluster_summary, connected_components
        # chain 1-2-3-4 (diameter 3) + pair 10-11 + pair 20-21
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (3, 4), (10, 11), (20, 21)], "id_a bigint, id_b bigint")
        comp = {r.node: r.cluster_id for r in connected_components(pairs).collect()}
        assert comp == {1: 1, 2: 1, 3: 1, 4: 1, 10: 10, 11: 10, 20: 20, 21: 20}
        summary = {r.cluster_id: (r.size, r.keep_id)
                   for r in cluster_summary(connected_components(pairs)).collect()}
        assert summary == {1: (4, 1), 10: (2, 10), 20: (2, 20)}

    def test_cycle_converges(self, spark):
        from fences_spark.operators.dedup import connected_components
        pairs = spark.createDataFrame(
            [(5, 6), (6, 7), (7, 5)], "id_a bigint, id_b bigint")
        comp = {r.node: r.cluster_id for r in connected_components(pairs).collect()}
        assert comp == {5: 5, 6: 5, 7: 5}

    def test_empty_pairs(self, spark):
        from fences_spark.operators.dedup import connected_components
        pairs = spark.createDataFrame([], "id_a bigint, id_b bigint")
        assert connected_components(pairs).count() == 0


class TestDeterministicSampling:
    def test_fraction_and_determinism(self, spark):
        from fences_spark.operators.sampling import deterministic_sample
        df = spark.range(20000).withColumnRenamed("id", "k")
        got = deterministic_sample(df, "k", 0.10)
        n = got.count()
        assert abs(n / 20000 - 0.10) < 0.02
        # stable under repartitioning (pure function of the key)
        ids1 = sorted(r.k for r in got.collect())
        ids2 = sorted(r.k for r in deterministic_sample(df.repartition(13), "k", 0.10).collect())
        assert ids1 == ids2

    def test_monotone_nesting(self, spark):
        # a 5% sample is a subset of the 20% sample (threshold order)
        from fences_spark.operators.sampling import deterministic_sample
        df = spark.range(5000).withColumnRenamed("id", "k")
        small = {r.k for r in deterministic_sample(df, "k", 0.05).collect()}
        big = {r.k for r in deterministic_sample(df, "k", 0.20).collect()}
        assert small <= big

    def test_stratified(self, spark):
        from fences_spark.operators.sampling import stratified_sample
        from pyspark.sql import functions as F
        df = spark.range(10000).select(
            F.col("id").alias("k"),
            F.when(F.pmod("id", 2) == 0, "en").otherwise("de").alias("lang"))
        got = stratified_sample(df, "k", "lang", {"en": 0.30}, default_fraction=0.05)
        by = {r.lang: r.n for r in got.groupBy("lang").agg(F.count(F.lit(1)).alias("n")).collect()}
        assert abs(by.get("en", 0) / 5000 - 0.30) < 0.04
        assert abs(by.get("de", 0) / 5000 - 0.05) < 0.03

    def test_threshold_edges(self):
        from fences_spark.operators.sampling import threshold_hex
        import pytest as _pytest
        assert threshold_hex(0.0) == "0000"
        # fraction 1.0 keeps every row under lexicographic compare
        assert "ffff" < threshold_hex(1.0)
        with _pytest.raises(ValueError):
            threshold_hex(1.5)


class TestDupSpans:
    def test_dup_span_stats_exact(self, spark):
        shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens → 2 5-grams
        df = spark.createDataFrame(
            [
                (1, shared + " one two three four"),   # 10 tokens → 6 grams, 2 dup
                (2, shared),                            # 2 grams, both dup
                (3, "totally unrelated words here live now"),  # 2 grams, 0 dup
            ],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in D.dup_span_stats(df, "doc_id", "text", k=5).collect()}
        assert set(rows) == {1, 2}  # doc 3 filtered (no dup spans)
        assert rows[1]["total_grams"] == 6 and rows[1]["dup_grams"] == 2
        assert rows[2]["total_grams"] == 2 and rows[2]["dup_grams"] == 2
        assert rows[1]["dup_ratio"] == round(2 / 6, 6)
        assert rows[2]["dup_ratio"] == 1.0

    def test_short_doc_single_gram(self, spark):
        df = spark.createDataFrame(
            [(1, "tiny doc"), (2, "tiny doc"), (3, "other")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in D.dup_span_stats(df, "doc_id", "text", k=5).collect()}
        assert set(rows) == {1, 2}
        assert rows[1]["total_grams"] == 1 and rows[1]["dup_ratio"] == 1.0


class TestRepetition:
    def test_repetition_signals_exact(self, spark):
        # "a b a b a b": 2-grams = [a b, b a, a b, b a, a b] → top "a b" ×3
        # char mass: "a b"=3 chars ×3 + "b a"×2 → 9 / 15
        # 3-grams = [a b a, b a b, a b a, b a b] → all positions duplicated
        df = spark.createDataFrame(
            [(1, "a b a b a b"), (2, "all distinct words in here now")],
            "doc_id long, text string",
        )
        rows = {r["doc_id"]: r for r in
                TX.repetition_signals(df, "doc_id", "text").collect()}
        assert rows[1]["top_gram"] == "a b"
        assert rows[1]["top2gram_char_frac"] == round(9 / 15, 6)
        assert rows[1]["dup3gram_frac"] == 1.0
        assert rows[2]["dup3gram_frac"] == 0.0

    def test_tie_break_ascending(self, spark):
        # every 2-gram occurs once → tie → lexicographically smallest wins
        df = spark.createDataFrame([(1, "zeta alpha beta")], "doc_id long, text string")
        row = TX.repetition_signals(df, "doc_id", "text").collect()[0]
        assert row["top_gram"] == "alpha beta"


def _winnow_py(text: str, k: int = 8, window: int = 4) -> list[int]:
    """Pure-Python golden mirror of winnow_fingerprints."""
    import hashlib
    import re as _re

    norm = _re.sub("[^a-z0-9]+", " ", text.lower())
    n = max(len(norm) - (k - 1), 1)
    grams = [norm[i : i + k] for i in range(n)]
    hashes = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams]
    mins = [min(hashes[i : i + window]) for i in range(max(n - (window - 1), 1))]
    return sorted(set(mins))


class TestWinnowGolden:
    @pytest.mark.parametrize("text", [
        "",
        "ab",
        "exactly8",
        "the quick brown fox jumps over the lazy dog",
        "aaaaaaaaaaaaaaaaaaaaaa",
        "Mixed CASE with   punctuation!!! and numbers 12345 too",
    ])
    def test_matches_python_mirror(self, spark, text):
        got = spark.createDataFrame([(text,)], "text string").select(
            TX.winnow_fingerprints(F.col("text")).alias("w")
        ).collect()[0]["w"]
        assert got == _winnow_py(text)

    def test_nonstandard_window_sizes(self, spark):
        text = "the quick brown fox jumps over the lazy dog"
        for k, window in [(4, 3), (5, 5), (8, 2), (3, 7)]:
            got = spark.createDataFrame([(text,)], "text string").select(
                TX.winnow_fingerprints(F.col("text"), k=k, window=window).alias("w")
            ).collect()[0]["w"]
            assert got == _winnow_py(text, k, window), (k, window)


class TestCurate:
    def test_curate_flags(self, spark):
        good = ("the quick brown fox jumps over the lazy dog and then the dog "
                "sleeps for a while in the warm sun of a quiet afternoon")
        dup = ("it was the best of times and it was the worst of times for "
               "all of the people in that old and busy town by the sea")
        df = spark.createDataFrame(
            [
                (1, good),                      # unique, high quality → kept
                (2, dup),                       # canonical of the dup pair
                (3, dup),                       # exact dup of 2
                (4, "!!! ??? ;;; ###"),        # punctuation soup → low quality
                (5, "spam ham spam ham spam ham spam ham spam ham spam ham"),  # repetitive
            ],
            "doc_id long, text string",
        )
        from fences_spark.operators.curate import curate_documents

        rows = {r["doc_id"]: r for r in curate_documents(df, "doc_id", "text").collect()}
        assert rows[1]["keep"] is True and rows[1]["reasons"] == ""
        # span duplication is symmetric: BOTH copies' 5-grams are
        # cross-document duplicates, so the canonical copy flags
        # dup_spans too (only exact_dup distinguishes them)
        assert rows[2]["keep"] is False and rows[2]["reasons"] == "dup_spans"
        assert rows[3]["keep"] is False and rows[3]["reasons"] == "dup_spans,exact_dup"
        assert rows[4]["keep"] is False and "low_quality" in rows[4]["reasons"]
        assert rows[5]["keep"] is False and "repetitive" in rows[5]["reasons"]

    def test_reasons_ordered_and_composed(self, spark):
        df = spark.createDataFrame(
            [(1, "zz zz zz zz zz zz zz zz"), (2, "zz zz zz zz zz zz zz zz")],
            "doc_id long, text string",
        )
        from fences_spark.operators.curate import curate_documents

        rows = {r["doc_id"]: r for r in curate_documents(df, "doc_id", "text").collect()}
        # doc 2: fails quality (no stopwords/low alpha variety is fine —
        # short tokens), repetition, span dup AND exact dup; reason order
        # is the documented flag order
        assert rows[2]["reasons"].split(",") == [
            "low_quality", "repetitive", "dup_spans", "exact_dup",
        ]


class TestTokenTopk:
    def test_tf_df_and_tiebreak(self, spark):
        df = spark.createDataFrame(
            [(1, "apple banana apple"), (2, "banana cherry"), (3, "apple date")],
            "doc_id long, text string",
        )
        rows = TX.corpus_token_topk(df, "doc_id", "text", k=3).collect()
        assert [(r["token"], r["tf"], r["df"]) for r in rows] == [
            ("apple", 3, 2),   # tf 3
            ("banana", 2, 2),  # tf 2, tie with nothing
            ("cherry", 1, 1),  # tf 1 tie broken by token asc (cherry < date)
        ]


class TestChunking:
    def test_exact_cover_no_tail(self, spark):
        text = " ".join(f"w{i}" for i in range(1, 11))  # 10 tokens
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        rows = TX.chunk_documents(df, "doc_id", "text", chunk_tokens=4, stride=3) \
            .orderBy("chunk_idx").collect()
        got = [(r["chunk_idx"], r["n_tokens"], r["chunk"]) for r in rows]
        assert got == [
            (0, 4, "w1 w2 w3 w4"),
            (1, 4, "w4 w5 w6 w7"),
            (2, 4, "w7 w8 w9 w10"),
        ]

    def test_back_aligned_tail(self, spark):
        text = " ".join(f"w{i}" for i in range(1, 10))  # 9 tokens
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        rows = TX.chunk_documents(df, "doc_id", "text", chunk_tokens=4, stride=3) \
            .orderBy("chunk_idx").collect()
        got = [(r["chunk_idx"], r["chunk"]) for r in rows]
        assert got == [
            (0, "w1 w2 w3 w4"),
            (1, "w4 w5 w6 w7"),
            (2, "w6 w7 w8 w9"),  # back-aligned: ends at the last token
        ]

    def test_short_doc_single_chunk(self, spark):
        df = spark.createDataFrame([(1, "only two")], "doc_id long, text string")
        rows = TX.chunk_documents(df, "doc_id", "text", chunk_tokens=4, stride=3).collect()
        assert [(r["chunk_idx"], r["n_tokens"], r["chunk"]) for r in rows] == [(0, 2, "only two")]

    def test_every_token_covered(self, spark):
        docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
        ch = TX.chunk_documents(docs, "doc_id", "text", chunk_tokens=16, stride=12)
        # reconstruct coverage: sum of (n_tokens - overlap) must reach doc length
        agg = ch.groupBy("doc_id").agg(
            F.max(F.col("chunk_idx")).alias("last_idx"),
            F.sum("n_tokens").alias("tok_positions"),
        ).collect()
        n_tok = {r["doc_id"]: r["nt"] for r in docs.select(
            "doc_id", TX.whitespace_token_count(F.col("text")).alias("nt")).collect()}
        for r in agg:
            # chunks overlap, so summed sizes >= true token count
            assert r["tok_positions"] >= n_tok[r["doc_id"]]


class TestTfidf:
    def test_formula_and_tiebreak(self, spark):
        df = spark.createDataFrame(
            [(1, "apple apple banana"), (2, "banana cherry"), (3, "cherry cherry cherry")],
            "doc_id long, text string",
        )
        rows = TX.tfidf_top_terms(df, "doc_id", "text", k=2).orderBy("doc_id", "rank").collect()
        n = 3

        def w(tf, dfreq):
            return round(tf * (math.log((n + 1) / (dfreq + 1)) + 1.0), 6)

        # doc 1: apple tf=2 df=1; banana tf=1 df=2
        assert (rows[0]["token"], rows[0]["tfidf"]) == ("apple", w(2, 1))
        assert (rows[1]["token"], rows[1]["tfidf"]) == ("banana", w(1, 2))
        # doc 2: banana and cherry both tf=1 df=2 — tie broken token asc
        assert [r["token"] for r in rows if r["doc_id"] == 2] == ["banana", "cherry"]

    def test_shuffled_join_path_matches_broadcast(self, spark):
        docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
        a = TX.tfidf_top_terms(docs, "doc_id", "text", k=3, broadcast_vocab=True)
        b = TX.tfidf_top_terms(docs, "doc_id", "text", k=3, broadcast_vocab=False)
        assert a.exceptAll(b).count() == 0 and b.exceptAll(a).count() == 0


class TestPackSequences:
    def test_offset_packing_single_bucket(self, spark):
        # 4 docs x 3 tokens, budget 5: exclusive cums 0,3,6,9 -> seqs 0,0,1,1
        df = spark.createDataFrame(
            [(i, "a b c") for i in range(4)], "doc_id long, text string"
        )
        rows = (
            TX.pack_sequences(df, "doc_id", "text", budget=5, buckets=1)
            .orderBy("seq_idx").collect()
        )
        got = [(r["seq_idx"], r["n_docs"], r["seq_tokens"], r["first_doc"], r["last_doc"])
               for r in rows]
        assert got == [(0, 2, 6, 0, 1), (1, 2, 6, 2, 3)]

    def test_long_doc_spans_without_split(self, spark):
        df = spark.createDataFrame(
            [(1, " ".join(["t"] * 7)), (2, "a b")], "doc_id long, text string"
        )
        rows = (
            TX.pack_sequences(df, "doc_id", "text", budget=5, buckets=1)
            .orderBy("seq_idx").collect()
        )
        # doc 1 starts at cum 0 (seq 0) and overflows; doc 2 starts at cum 7 -> seq 1
        assert [(r["seq_idx"], r["n_docs"], r["seq_tokens"]) for r in rows] == [
            (0, 1, 7), (1, 1, 2),
        ]

    def test_every_doc_packed_exactly_once(self, spark):
        docs = spark.read.parquet(f"{SF}/documents.parquet")
        packed = TX.pack_sequences(docs, "doc_id", "text", budget=256, buckets=8)
        agg = packed.agg(F.sum("n_docs").alias("nd"), F.sum("seq_tokens").alias("nt")).first()
        assert agg["nd"] == docs.count()
        true_tokens = docs.agg(
            F.sum(TX.whitespace_token_count(F.col("text"))).alias("t")
        ).first()["t"]
        assert agg["nt"] == true_tokens


class TestQualityQuota:
    def test_quota_and_tiebreak(self, spark):
        from fences_spark.operators.sampling import quality_quota_sample

        # same text => identical quality; tie-break selects lowest doc_id
        df = spark.createDataFrame(
            [(1, "the cat sat on the mat today", "en"),
             (2, "the cat sat on the mat today", "en"),
             (3, "!!!", "en"),
             (4, "der hund und die katze sind da", "de")],
            "doc_id long, text string, lang string",
        )
        rows = quality_quota_sample(df, "doc_id", "text", "lang", quota=1).collect()
        got = {r["stratum"]: r["doc_id"] for r in rows}
        assert got == {"en": 1, "de": 4}
        assert all(r["rnk"] == 1 for r in rows)

    def test_quota_caps_each_stratum(self, spark):
        from fences_spark.operators.sampling import quality_quota_sample

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        out = quality_quota_sample(docs, "doc_id", "text", "lang", quota=10)
        per = {r["stratum"]: r["c"] for r in
               out.groupBy("stratum").agg(F.count(F.lit(1)).alias("c")).collect()}
        sizes = {r["lang"]: r["c"] for r in
                 docs.groupBy("lang").agg(F.count(F.lit(1)).alias("c")).collect()}
        for lang, c in per.items():
            assert c == min(10, sizes[lang])


class TestAsofJoin:
    def _tables(self, spark):
        from datetime import datetime
        t = lambda m: datetime(2026, 1, 1, 12, m)
        left = spark.createDataFrame(
            [(1, 100, t(10)), (2, 100, t(20)), (3, 200, t(5)), (4, 300, t(30))],
            "lid long, k long, ts timestamp",
        )
        right = spark.createDataFrame(
            [(11, 100, t(8), 1.0), (12, 100, t(20), 2.0), (13, 200, t(6), 3.0)],
            "rid long, k long, ts timestamp, v double",
        )
        return left, right, t

    def test_backward_inclusive_and_no_match(self, spark):
        from fences_spark.operators.joins import asof_join

        left, right, t = self._tables(spark)
        out = {r["lid"]: (r["r_rid"], r["r_ts"]) for r in asof_join(
            left, right, keys=["k"], left_ts="ts", right_ts="ts",
            value_cols=["rid", "v"],
        ).collect()}
        assert out[1] == (11, t(8))     # latest at-or-before 12:10
        assert out[2] == (12, t(20))    # equal ts: inclusive
        assert out[3] == (None, None)   # right row is later -> no match
        assert out[4] == (None, None)   # key never on the right

    def test_equal_ts_tie_takes_max_payload(self, spark):
        from datetime import datetime
        from fences_spark.operators.joins import asof_join

        t0 = datetime(2026, 1, 1)
        left = spark.createDataFrame([(1, 1, t0)], "lid long, k long, ts timestamp")
        right = spark.createDataFrame(
            [(7, 1, t0, 1.0), (9, 1, t0, 2.0), (8, 1, t0, 3.0)],
            "rid long, k long, ts timestamp, v double",
        )
        row = asof_join(
            left, right, keys=["k"], left_ts="ts", right_ts="ts",
            value_cols=["rid", "v"],
        ).first()
        assert row["r_rid"] == 9  # max payload struct among equal ts

    def test_tolerance_nulls_stale_matches(self, spark):
        from fences_spark.operators.joins import asof_join

        left, right, t = self._tables(spark)
        out = {r["lid"]: r["r_rid"] for r in asof_join(
            left, right, keys=["k"], left_ts="ts", right_ts="ts",
            value_cols=["rid", "v"], tolerance=F.expr("INTERVAL 1 MINUTE"),
        ).collect()}
        assert out[1] is None           # 12:08 older than 12:10 - 1min
        assert out[2] == 12             # exact-ts match within tolerance


class TestRangeJoin:
    def test_containment_bounds_and_bucket_spanning(self, spark):
        from datetime import datetime
        from fences_spark.operators.joins import range_join

        t = lambda m, s=0: datetime(2026, 1, 1, 12, m, s)
        points = spark.createDataFrame(
            [(1, 1, t(0)), (2, 1, t(5)), (3, 1, t(10)), (4, 1, t(10, 1)), (5, 2, t(5))],
            "pid long, k long, ts timestamp",
        )
        # one interval spanning many 60s buckets: [12:00, 12:10]
        intervals = spark.createDataFrame(
            [(100, 1, t(0), t(10))],
            "iid long, k long, s timestamp, e timestamp",
        )
        out = range_join(
            points, intervals, keys=["k"], point_ts="ts",
            start_ts="s", end_ts="e", value_cols=["iid"], bucket_seconds=60,
        )
        got = sorted(r["pid"] for r in out.collect())
        # 1: at start (inclusive); 2: inside; 3: at end (inclusive);
        # 4: one second past the end -> out; 5: wrong key -> out
        assert got == [1, 2, 3]
        # exactly one row per matching pair (no bucket-duplicate pairs)
        assert out.count() == 3

    def test_invalid_intervals_dropped(self, spark):
        from datetime import datetime
        from fences_spark.operators.joins import range_join

        t = lambda m: datetime(2026, 1, 1, 12, m)
        points = spark.createDataFrame([(1, 1, t(5))], "pid long, k long, ts timestamp")
        intervals = spark.createDataFrame(
            [(100, 1, t(10), t(0))],  # start > end
            "iid long, k long, s timestamp, e timestamp",
        )
        out = range_join(
            points, intervals, keys=["k"], point_ts="ts",
            start_ts="s", end_ts="e", value_cols=["iid"],
        )
        assert out.count() == 0

    def test_overlapping_intervals_yield_all_pairs(self, spark):
        from datetime import datetime
        from fences_spark.operators.joins import range_join

        t = lambda m: datetime(2026, 1, 1, 12, m)
        points = spark.createDataFrame([(1, 1, t(5))], "pid long, k long, ts timestamp")
        intervals = spark.createDataFrame(
            [(100, 1, t(0), t(10)), (200, 1, t(4), t(6))],
            "iid long, k long, s timestamp, e timestamp",
        )
        out = range_join(
            points, intervals, keys=["k"], point_ts="ts",
            start_ts="s", end_ts="e", value_cols=["iid"],
        )
        assert sorted(r["i_iid"] for r in out.collect()) == [100, 200]


class TestSessionWindows:
    def test_strict_gap_split_and_end_extension(self, spark):
        from datetime import datetime, timedelta
        t = lambda m: datetime(2026, 1, 1, 12, m)
        df = spark.createDataFrame(
            # exactly-30min successor merges; 31min successor splits
            [(1, t(0)), (1, t(30)), (2, t(0)), (2, t(31))],
            "user_id long, ts timestamp",
        )
        out = {
            (r["user_id"], r["s_start"]): (r["s_end"], r["n"])
            for r in df.groupBy(
                "user_id", F.session_window("ts", "30 minutes").alias("w")
            ).agg(F.count(F.lit(1)).alias("n"))
            .select("user_id", F.col("w.start").alias("s_start"),
                    F.col("w.end").alias("s_end"), "n").collect()
        }
        assert out[(1, t(0))] == (t(0) + timedelta(hours=1), 2)   # merged
        assert out[(2, t(0))] == (t(30), 1)                        # split
        assert out[(2, t(31))] == (t(31) + timedelta(minutes=30), 1)


class TestDecontaminate:
    def test_planted_leak_is_flagged(self, spark):
        from fences_spark.operators.curate import decontaminate

        docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
        eval_set = docs.limit(3)
        # train = one verbatim copy of an eval doc (leak) + one disjoint doc
        leak = eval_set.limit(1).select(F.lit(900001).alias("doc_id"), "text")
        clean = spark.createDataFrame(
            [(900002, "qqq www eee rrr ttt yyy uuu iii ooo ppp")], ["doc_id", "text"]
        )
        out = {
            r["doc_id"]: r
            for r in decontaminate(
                leak.unionByName(clean), eval_set, "doc_id", "text", k=5
            ).collect()
        }
        assert out[900001]["contaminated"] is True
        assert out[900001]["hit_grams"] == out[900001]["total_grams"]
        assert out[900002]["contaminated"] is False
        assert out[900002]["hit_grams"] == 0

    def test_one_row_per_train_doc(self, spark):
        from fences_spark.operators.curate import decontaminate

        docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
        train, ev = docs.filter("doc_id % 10 != 0"), docs.filter("doc_id % 10 = 0")
        out = decontaminate(train, ev, "doc_id", "text")
        assert out.count() == train.count()


class TestRedact:
    def test_known_strings(self, spark):
        from fences_spark.operators.text import PII_PATTERNS, pii_counts, redact

        df = spark.createDataFrame(
            [
                (1, "mail me at jo.doe+x@corp.io or root@10.2.3.44 now"),
                (2, "key " + "a1" * 16 + " leaked, also 192.168.0.1"),
                (3, "nothing here"),
            ],
            ["doc_id", "text"],
        )
        t = F.col("text")
        c = pii_counts(t)
        rows = {
            r["doc_id"]: r
            for r in df.select(
                "doc_id",
                c["email"].alias("e"),
                c["ipv4"].alias("i"),
                c["hex_secret"].alias("h"),
                redact(t).alias("red"),
            ).collect()
        }
        assert (rows[1]["e"], rows[1]["i"], rows[1]["h"]) == (1, 1, 0)
        assert "<EMAIL>" in rows[1]["red"] and "<IP>" in rows[1]["red"]
        assert "jo.doe" not in rows[1]["red"] and "10.2.3.44" not in rows[1]["red"]
        assert (rows[2]["e"], rows[2]["i"], rows[2]["h"]) == (0, 1, 1)
        assert "<SECRET>" in rows[2]["red"] and "a1a1" not in rows[2]["red"]
        assert rows[3]["red"] == "nothing here"
        assert len(PII_PATTERNS) == 3

    def test_email_domain_not_double_matched_as_ip(self, spark):
        from fences_spark.operators.text import redact

        df = spark.createDataFrame(
            [(1, "x u@10.0.0.7 y"), (2, "x u@ten.example.com z 1.2.3.4")],
            ["doc_id", "text"],
        )
        rows = {r["doc_id"]: r["r"]
                for r in df.select("doc_id", redact(F.col("text")).alias("r")).collect()}
        # a dotted-quad "domain" has no alpha TLD, so it is NOT an
        # email — the ipv4 pass redacts it instead
        assert rows[1] == "x u@<IP> y"
        # a real email is consumed whole by the first pass; a separate
        # bare IP in the same row still redacts
        assert rows[2] == "x <EMAIL> z <IP>"


class TestShuffleShards:
    def test_deterministic_and_complete(self, spark):
        from fences_spark.operators.sampling import shuffle_shards

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        a = shuffle_shards(docs, "doc_id", n_shards=4).collect()
        b = shuffle_shards(docs.repartition(13), "doc_id", n_shards=4).collect()
        assert sorted(map(tuple, a)) == sorted(map(tuple, b))
        assert len(a) == docs.count()
        by_shard: dict[int, list[int]] = {}
        for r in a:
            by_shard.setdefault(r["shard"], []).append(r["rnk"])
        assert set(by_shard) == {0, 1, 2, 3}
        for ranks in by_shard.values():
            assert sorted(ranks) == list(range(1, len(ranks) + 1))

    def test_salt_changes_order(self, spark):
        from fences_spark.operators.sampling import shuffle_shards

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        a = {(r["doc_id"], r["shard"], r["rnk"])
             for r in shuffle_shards(docs, "doc_id", salt="s1").collect()}
        b = {(r["doc_id"], r["shard"], r["rnk"])
             for r in shuffle_shards(docs, "doc_id", salt="s2").collect()}
        assert a != b


class TestResizeImages:
    def test_geometry_and_digest(self, spark):
        import hashlib

        from fences_spark.operators.multimodal import resize_images, synth_media_table

        media = synth_media_table(spark, 60)
        out = {r["media_id"]: r for r in resize_images(media, target_w=64, target_h=64).collect()}
        src = {r["media_id"]: r for r in media.filter("modality = 'image'").collect()}
        assert set(out) == set(src)
        for mid, r in out.items():
            w, h = src[mid]["meta"]["width"], src[mid]["meta"]["height"]
            assert (r["in_w"], r["in_h"]) == (w, h)
            # aspect-fit: the longer side hits 64, the other scales down
            if w >= h:
                assert r["out_w"] == 64 and r["out_h"] == max(1, h * 64 // w)
            else:
                assert r["out_h"] == 64 and r["out_w"] == max(1, w * 64 // h)
            assert 1 <= r["out_w"] <= 64 and 1 <= r["out_h"] <= 64
            want = hashlib.sha256(
                bytes(src[mid]["payload"]) + f"#{r['out_w']}x{r['out_h']}".encode()
            ).hexdigest()
            assert r["resized_sha256"] == want

    def test_real_decode_rejects_non_bmp(self, spark):
        """synth_media_table payloads are opaque hash bytes — not a BMP
        container — so real decode must refuse them, naming the codec
        library a deployment would add (tests/test_codecs.py covers
        the succeeding real path over actual BMP payloads)."""
        from fences_spark.operators.multimodal import resize_images, synth_media_table

        media = synth_media_table(spark, 6)
        with pytest.raises(Exception, match="PIL|Pillow"):
            resize_images(media, decode="real").collect()


class TestWeightedInterleave:
    def test_block_structure_and_determinism(self, spark):
        from fences_spark.operators.sampling import weighted_interleave

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        weights = {"en": 3, "de": 2, "fr": 1}
        out = weighted_interleave(docs, "doc_id", "lang", weights).collect()
        out2 = weighted_interleave(docs.repartition(11), "doc_id", "lang", weights).collect()
        assert sorted(map(tuple, out)) == sorted(map(tuple, out2))
        # positions are globally unique
        poss = [r["pos"] for r in out]
        assert len(poss) == len(set(poss))
        # within every FULL block of 6, slot pattern is en,en,en,de,de,fr
        by_pos = {r["pos"]: r["stratum"] for r in out}
        full_blocks = 0
        b = 0
        while all(b * 6 + i in by_pos for i in range(6)):
            got = [by_pos[b * 6 + i] for i in range(6)]
            assert got == ["en", "en", "en", "de", "de", "fr"], (b, got)
            full_blocks += 1
            b += 1
        assert full_blocks >= 1
        # strata outside the weights map are dropped
        assert set(by_pos.values()) <= set(weights)

    def test_exhausted_stratum_leaves_gaps(self, spark):
        from fences_spark.operators.sampling import weighted_interleave

        df = spark.createDataFrame(
            [(i, "big") for i in range(10)] + [(100, "small")],
            ["doc_id", "lang"],
        )
        out = weighted_interleave(df, "doc_id", "lang", {"big": 1, "small": 1}).collect()
        small_pos = [r["pos"] for r in out if r["stratum"] == "small"]
        big_pos = sorted(r["pos"] for r in out if r["stratum"] == "big")
        assert small_pos == [1]          # the single small doc takes block 0's slot
        assert big_pos == [2 * i for i in range(10)]  # big keeps its every-other slots

    def test_rejects_bad_weights(self, spark):
        from fences_spark.operators.sampling import weighted_interleave

        docs = spark.read.parquet(f"{SF}/documents.parquet")
        with pytest.raises(ValueError):
            weighted_interleave(docs, "doc_id", "lang", {"en": 0})
        with pytest.raises(ValueError):
            weighted_interleave(docs, "doc_id", "lang", {})


class TestBlocklistFilter:
    def test_exact_subdomain_and_clean(self, spark):
        from fences_spark.operators.curate import blocklist_filter

        df = spark.createDataFrame(
            [
                (1, "go to https://ads.net/x now"),              # exact
                (2, "img at http://cdn.ads.net/y"),              # subdomain
                (3, "fine https://example.org/ and http://ok.io"),
                (4, "no urls at all"),
                (5, "NOT a match: https://badads.net/z"),        # no dot boundary
            ],
            ["doc_id", "text"],
        )
        out = {r["doc_id"]: r for r in blocklist_filter(df, "doc_id", "text", ["ads.net"]).collect()}
        assert out[1]["blocked"] is True and out[1]["matched_domain"] == "ads.net"
        assert out[2]["blocked"] is True and out[2]["matched_domain"] == "cdn.ads.net"
        assert out[3]["blocked"] is False and out[3]["n_domains"] == 2
        assert out[3]["matched_domain"] is None
        assert out[4]["n_domains"] == 0 and out[4]["blocked"] is False
        assert out[5]["blocked"] is False

    def test_empty_blocklist_rejected(self, spark):
        from fences_spark.operators.curate import blocklist_filter

        df = spark.createDataFrame([(1, "x")], ["doc_id", "text"])
        with pytest.raises(ValueError):
            blocklist_filter(df, "doc_id", "text", [])


def test_simhash_column_matches_simhash_table(spark):
    """The single-Column simhash fold and the explode+agg
    simhash_table must produce identical signatures (the streaming
    near-dup path keys on the Column form; the batch oracle-gated
    entry uses the table form)."""
    docs = spark.read.parquet(f"{SF}/documents.parquet").limit(50)
    via_col = {r["doc_id"]: r["s"] for r in docs.select(
        "doc_id", D.simhash(F.col("text")).alias("s")).collect()}
    via_tbl = {r["doc_id"]: r["sim"] for r in D.simhash_table(
        docs, "doc_id", "text").collect()}
    assert via_col == via_tbl


def test_weighted_interleave_random_weights_property(spark):
    """Property over random weight maps: positions unique, every FULL
    block follows the declared slot pattern, ranks within a stratum
    appear in hash order."""
    import random as _r

    rng = _r.Random(7)
    docs = spark.read.parquet(f"{SF}/documents.parquet")
    langs = [r["lang"] for r in docs.select("lang").distinct().collect()]
    from fences_spark.operators.sampling import weighted_interleave

    for trial in range(3):
        chosen = rng.sample(langs, k=min(3, len(langs)))
        weights = {s: rng.randint(1, 4) for s in chosen}
        W = sum(weights.values())
        pattern = [s for s in weights for _ in range(weights[s])]
        out = weighted_interleave(docs, "doc_id", "lang", weights,
                                  salt=f"t{trial}").collect()
        poss = [r["pos"] for r in out]
        assert len(poss) == len(set(poss)), weights
        by_pos = {r["pos"]: r["stratum"] for r in out}
        b = 0
        full = 0
        while all(b * W + i in by_pos for i in range(W)) and full < 5:
            assert [by_pos[b * W + i] for i in range(W)] == pattern, (weights, b)
            b += 1
            full += 1
        assert full >= 1, (weights, "no full block")


class TestLengthBandFilter:
    def test_band_semantics_and_approx_path(self, spark):
        from fences_spark.operators.curate import length_band_filter

        rows = [(i, "w " * n) for i, n in enumerate([1, 2, 3, 4, 5, 6, 7, 8, 9, 100])]
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {r["doc_id"]: r for r in
               length_band_filter(df, "doc_id", "text", p_lo=0.1, p_hi=0.9).collect()}
        # exact percentile (linear interp over 10 values): p10=1.9, p90=9+0.9*91... no:
        # sorted counts [1..9,100]; p90 index = 0.9*9 = 8.1 -> 9 + 0.1*(100-9)
        assert out[0]["keep"] is False          # n=1 < 1.9
        assert all(out[i]["keep"] for i in range(1, 9))
        assert out[9]["keep"] is False          # n=100 > 18.1
        assert out[0]["lo"] == 1.9
        assert out[0]["hi"] == pytest.approx(9 + 0.1 * 91, abs=1e-6)
        # approx path: same shape, plausible thresholds, all columns
        a = length_band_filter(df, "doc_id", "text", p_lo=0.1, p_hi=0.9, approx=True)
        arows = a.collect()
        assert len(arows) == 10 and set(a.columns) == {"doc_id", "n_tokens", "lo", "hi", "keep"}


class TestCurateFull:
    def test_reason_composition_on_synthetic_corpus(self, spark):
        from fences_spark.operators.curate import curate_documents_full

        good = "the quick brown fox jumps over the lazy dog and then the dog sleeps"
        rows = (
            # healthy docs with distinct-enough text (keep expected for most)
            [(i, good + f" extra words number {i} for variety") for i in range(100, 140)]
            # blocked URL doc
            + [(200, good + " via http://ads.bad.net/x")]
            # extreme length outlier (way above p95)
            + [(201, "w " * 5000)]
        )
        df = spark.createDataFrame(rows, ["doc_id", "text"])
        out = {r["doc_id"]: r for r in curate_documents_full(
            df, "doc_id", "text", blocked_domains=["bad.net"]).collect()}
        assert len(out) == len(rows)
        assert "blocked_domain" in out[200]["reasons"]
        assert "out_of_band" in out[201]["reasons"]
        assert out[201]["keep"] is False
        # reasons are ordered per the documented flag order
        for r in out.values():
            names = [x for x in r["reasons"].split(",") if x]
            order = ["eval_holdout", "contaminated", "blocked_domain", "out_of_band",
                     "low_quality", "repetitive", "dup_spans", "exact_dup"]
            assert names == sorted(names, key=order.index)
            assert r["keep"] is (len(names) == 0)

    def test_eval_holdout_and_contamination(self, spark):
        from fences_spark.operators.curate import curate_documents_full
        from fences_spark.operators.sampling import hash_bucket, threshold_hex

        docs = spark.read.parquet(f"{SF}/documents.parquet").select("doc_id", "text")
        out = {r["doc_id"]: r for r in curate_documents_full(
            docs, "doc_id", "text", blocked_domains=["never.invalid"]).collect()}
        evals = {r["doc_id"] for r in docs.filter(
            hash_bucket(F.col("doc_id")) < F.lit(threshold_hex(0.05))).collect()}
        assert evals  # the 5% split is non-empty at sf0.001
        for did in evals:
            assert "eval_holdout" in out[did]["reasons"]
            assert out[did]["keep"] is False
        # contamination only ever fires on non-eval docs
        for did, r in out.items():
            if "contaminated" in r["reasons"]:
                assert did not in evals


def test_weighted_interleave_non_doc_id_key(spark):
    """Regression: the hash column must resolve against the ORIGINAL
    key column name, which the projection renames to doc_id."""
    from fences_spark.operators.sampling import weighted_interleave

    df = spark.createDataFrame(
        [(i, "en" if i % 2 else "de") for i in range(20)], ["vec_id", "lang"]
    )
    out = weighted_interleave(df, "vec_id", "lang", {"en": 1, "de": 1}).collect()
    assert len(out) == 20
    assert {r["doc_id"] for r in out} == set(range(20))


def test_curate_full_no_blocklist_disables_signal(spark):
    """Regression: omitting blocked_domains must turn the blocklist
    signal OFF, not silently block against a default domain."""
    from fences_spark.operators.curate import curate_documents_full

    df = spark.createDataFrame(
        [(i, f"good distinct document number {i} via http://ads.tracker.net/x") for i in range(30)],
        ["doc_id", "text"],
    )
    out = curate_documents_full(df, "doc_id", "text").collect()
    assert all("blocked_domain" not in r["reasons"] for r in out)


def test_quality_percentiles_semantics(spark):
    from fences_spark.operators.sampling import quality_percentiles

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    out = quality_percentiles(docs, "doc_id", "text", "lang").collect()
    by_stratum: dict[str, list] = {}
    for r in out:
        by_stratum.setdefault(r["stratum"], []).append(r)
    assert len(out) == docs.count()
    for stratum, rows in by_stratum.items():
        pcts = sorted(r["pct"] for r in rows)
        assert pcts[0] == 0.0 and pcts[-1] == (1.0 if len(rows) > 1 else 0.0)
        # percent_rank is monotone in (quality, doc_id) order
        ordered = sorted(rows, key=lambda r: (r["quality"], r["doc_id"]))
        assert [r["pct"] for r in ordered] == sorted(r["pct"] for r in ordered)
        # a "top 30% of each stratum" cut selects ~30% of EVERY stratum
        top = [r for r in rows if r["pct"] >= 0.7]
        assert abs(len(top) / len(rows) - 0.3) < 0.12, stratum


def test_round6_matches_duckdb_round(spark):
    """round6 (the engine's 6-dp rounding) must be BIT-IDENTICAL to
    DuckDB's round(x, 6) — including scaled-double half ties where
    Spark's own F.round disagrees (0.8762625 → 0.876263 here)."""
    import random as _r

    import duckdb

    from fences_spark.operators import round6

    rng = _r.Random(3)
    vals = [rng.uniform(-2, 2) for _ in range(5000)] + [
        0.8762625, -0.8762625, 0.1262625, 0.0000005, -0.0000005, 0.0, 1.0, -1.0]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, x double")
    got = {r["i"]: r["y"] for r in df.select("i", round6(F.col("x")).alias("y")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE v(i BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO v VALUES (?, ?)", list(enumerate(vals)))
    for i, d in con.sql("SELECT i, round(x, 6) FROM v").fetchall():
        assert got[i] == d, (i, vals[i], got[i], d)
    # and the production divergence case (quality = 0.75 +
    # round6(0.10101)/0.2*0.25, whose double sits just BELOW the
    # decimal half while the scaled multiply lands ON it) really
    # separates F.round from round6
    expr = F.lit(0.75) + F.lit(0.10101) / F.lit(0.2) * F.lit(0.25)
    one = spark.range(1).select(
        F.round(expr, 6).alias("spark_r"), round6(expr).alias("r6")).first()
    assert one["spark_r"] == 0.876262 and one["r6"] == 0.876263


def test_round6_huge_magnitudes_pass_through(spark):
    """Beyond |x| ≈ 9e12 the scaled floor would overflow LONG (ANSI
    runtime error); round6 must pass such magnitudes through unchanged
    (a double's ulp is ≫ 1e-6 there, so there is nothing to round) —
    matching DuckDB, whose round is likewise an identity there."""
    import duckdb

    from fences_spark.operators import round6

    import random as _r

    rng = _r.Random(11)
    # every magnitude decade the double-domain floor must cross:
    # fractional (<2^52 scaled), the band where the scaled value is
    # integral but a LONG floor still fit (1e9..9e12), and beyond the
    # old LONG-overflow bound
    vals = [9.3e12, -9.3e12, 1.5e18, -1.5e18, 4.56e15, 8.999999e12]
    # the scaling-multiply OVERFLOW band: finite |x| > ~1.8e302 makes
    # v = x·10⁶ infinite and v % 1.0 NaN; round6 must return x itself
    # (DuckDB round(1e303, 6) = 1e303), never ±inf = v/10⁶
    vals += [1e303, -1e303, 1.7976931348623157e308, -1.7976931348623157e308,
             1.8e302, -1.8e302, 1.7976e302, 5e307]
    vals += [rng.uniform(-1, 1) * 10 ** rng.uniform(0, 17) for _ in range(2000)]
    vals += [rng.uniform(-1, 1) * 10 ** rng.uniform(300, 308.25) for _ in range(500)]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, x double")
    got = {r["i"]: r["y"] for r in df.select("i", round6(F.col("x")).alias("y")).collect()}
    con = duckdb.connect()
    con.execute("CREATE TABLE v(i BIGINT, x DOUBLE)")
    con.executemany("INSERT INTO v VALUES (?, ?)", list(enumerate(vals)))
    for i, d in con.sql("SELECT i, round(x, 6) FROM v").fetchall():
        assert got[i] == d, (i, vals[i], got[i], d)


def test_lsh_matrix_form_bit_identical(spark):
    """lsh_all_buckets_sql (one nested-literal HOF expression) must
    produce EXACTLY the per-table lsh_bucket_sql buckets — the DuckDB
    near-dup oracle re-derives buckets from the per-table form, so any
    drift here silently breaks the hash gate."""
    from pyspark.sql import functions as F
    from fences_spark.operators.similarity import lsh_all_buckets_sql, lsh_bucket_sql

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    dim, planes, tables, seed = 64, 5, 6, "neardup"
    vec = "CAST(embedding AS ARRAY<DOUBLE>)"
    per_table = F.expr(
        "array(" + ",".join(
            lsh_bucket_sql(vec, dim, planes, f"{seed}:{t}") for t in range(tables)
        ) + ")"
    )
    matrix = F.expr(lsh_all_buckets_sql(vec, dim, planes, tables, seed))
    diff = emb.select(
        (per_table == matrix).alias("same")
    ).filter(~F.col("same")).count()
    assert diff == 0


def test_round6_nonfinite_passthrough(spark):
    """±inf and NaN must pass through round6 like DuckDB's round —
    inf % 1.0 is NaN in IEEE, which a naive fraction-based rounding
    would propagate into NaN for infinite inputs."""
    import math

    from fences_spark.operators import round6

    vals = [float("inf"), float("-inf"), float("nan")]
    df = spark.createDataFrame([(i, v) for i, v in enumerate(vals)], "i long, x double")
    got = {r["i"]: r["y"] for r in df.select("i", round6(F.col("x")).alias("y")).collect()}
    assert got[0] == math.inf and got[1] == -math.inf and math.isnan(got[2])
    import duckdb

    duck = duckdb.sql(
        "SELECT round('inf'::DOUBLE, 6), round('-inf'::DOUBLE, 6), round('nan'::DOUBLE, 6)"
    ).fetchone()
    assert duck[0] == math.inf and duck[1] == -math.inf and math.isnan(duck[2])


def test_quota_and_percentile_equal_single_window_forms(spark):
    """The skew-bounded implementations (two-phase salted quota,
    bucket-offset percentile) must be VALUE-IDENTICAL to the naive
    single-window forms they replaced — including duplicate qualities
    (tie-break by doc_id), empty-ish and single-row strata."""
    import random as _r

    from pyspark.sql import Window
    from fences_spark.operators.sampling import (
        quality_percentiles,
        quality_quota_sample,
    )
    from fences_spark.operators.text import quality_score

    rng = _r.Random(7)
    words = ["alpha", "beta", "the", "gamma", "a", "of", "delta!"]
    rows = []
    for i in range(4000):
        stratum = "hot" if i % 10 < 8 else f"s{i % 17}"  # one dominant stratum
        text = " ".join(rng.choice(words) for _ in range(rng.randint(1, 12)))
        if i % 5 == 0:
            text = "the same tied text appears very often"  # mass quality ties
        rows.append((f"d{i:05d}", stratum, text))
    rows.append(("only", "singleton", "lone document"))
    df = spark.createDataFrame(rows, ["doc_id", "lang", "text"])

    got_q = {
        (r["doc_id"]): (r["stratum"], r["quality"], r["rnk"])
        for r in quality_quota_sample(df, "doc_id", "text", "lang", quota=7).collect()
    }
    w = Window.partitionBy("stratum").orderBy(F.col("quality").desc(), F.col("doc_id"))
    naive = (
        df.select("doc_id", F.col("lang").alias("stratum"),
                  quality_score(F.col("text")).alias("quality"))
        .withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 7)
    )
    want_q = {r["doc_id"]: (r["stratum"], r["quality"], r["rnk"]) for r in naive.collect()}
    assert got_q == want_q

    got_p = {
        r["doc_id"]: (r["stratum"], r["quality"], r["pct"])
        for r in quality_percentiles(df, "doc_id", "text", "lang").collect()
    }
    wp = Window.partitionBy("stratum").orderBy(F.col("quality"), F.col("doc_id"))
    naive_p = (
        df.select("doc_id", F.col("lang").alias("stratum"),
                  quality_score(F.col("text")).alias("quality"))
        .withColumn("pct", F.percent_rank().over(wp))
    )
    want_p = {r["doc_id"]: (r["stratum"], r["quality"], r["pct"]) for r in naive_p.collect()}
    assert got_p == want_p


class TestParagraphDedup:
    def test_first_occurrence_wins_and_reassembly(self, spark):
        from fences_spark.operators.dedup import paragraph_dedup

        docs = spark.createDataFrame(
            [
                (1, "alpha\n\nshared\n\nbeta"),
                (2, "shared\n\ngamma"),       # 'shared' first seen in doc 1
                (3, "shared"),                # fully boilerplate
                (4, "gamma\n\ngamma"),        # intra-doc dup: 2nd copy dropped
            ],
            "doc_id long, text string",
        )
        out = {r["doc_id"]: r for r in paragraph_dedup(docs, "doc_id", "text").collect()}
        assert len(out) == 4  # every doc survives, even fully-boilerplate
        assert out[1]["clean_text"] == "alpha\n\nshared\n\nbeta"
        assert (out[1]["n_pars"], out[1]["n_kept"]) == (3, 3)
        assert out[2]["clean_text"] == "gamma" and out[2]["n_kept"] == 1
        assert out[3]["clean_text"] == "" and out[3]["n_kept"] == 0
        # 'gamma' was first seen in doc 2 (doc_id order), so doc 4 keeps none;
        # and its own second copy is also a duplicate
        assert out[4]["n_kept"] == 0 and out[4]["n_pars"] == 2

    def test_separator_is_literal_not_regex(self, spark):
        from fences_spark.operators.dedup import paragraph_dedup

        docs = spark.createDataFrame(
            [(1, "a.b|x|a.b"), (2, "zzz")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r for r in
               paragraph_dedup(docs, "doc_id", "text", sep="|").collect()}
        # '.' must not act as a regex dot; 'a.b' dedups against itself
        assert out[1]["clean_text"] == "a.b|x"
        assert (out[1]["n_pars"], out[1]["n_kept"]) == (3, 2)


class TestLuhnCards:
    """Luhn-validated payment-card scrub (round 5, SURVEY §2.F) —
    checksum math pinned against a pure-Python Luhn implementation."""

    @staticmethod
    def _py_luhn(digits: str) -> bool:
        if not (13 <= len(digits) <= 19):
            return False
        total = 0
        for i, ch in enumerate(reversed(digits)):
            d = int(ch)
            if i % 2 == 1:
                d = d * 2
                if d > 9:
                    d -= 9
            total += d
        return total % 10 == 0

    def test_luhn_valid_column_matches_python(self, spark):
        import random

        from fences_spark.operators.text import luhn_valid

        rng = random.Random(42)
        cases = ["4532015112830366", "4532015112830367", "5500000000000004",
                 "4111111111111111", "123456789012", "12345678901234567890"]
        cases += ["".join(rng.choices("0123456789", k=rng.randint(12, 20)))
                  for _ in range(60)]
        df = spark.createDataFrame([(c,) for c in cases], ["d"])
        got = {r["d"]: r["ok"] for r in
               df.select("d", luhn_valid(F.col("d")).alias("ok")).collect()}
        for c in cases:
            assert got[c] == self._py_luhn(c), c

    def test_operator_candidates_and_redaction(self, spark):
        from fences_spark.operators.text import luhn_card_documents

        rows = [
            (1, "pay 4532015112830366 now"),                    # valid
            (2, "order 4532015112830367 shipped"),              # luhn-fail
            (3, "a 5500 0000 0000 0004 b 4111-1111-1111-1111"), # 2 valid, styled
            (4, "serial 123456789012 ok"),                      # 12 digits: no candidate
            (5, "run 123456789012345678901234 long"),           # 24 digits: no \b fit
            (6, "twice 4111111111111111 and 4111111111111111"), # duplicate card
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        out = {r["doc_id"]: r for r in
               luhn_card_documents(df, "doc_id", "text").collect()}
        assert (out[1]["n_card_candidates"], out[1]["n_card_valid"]) == (1, 1)
        assert (out[2]["n_card_candidates"], out[2]["n_card_valid"]) == (1, 0)
        assert (out[3]["n_card_candidates"], out[3]["n_card_valid"]) == (2, 2)
        assert (out[4]["n_card_candidates"], out[4]["n_card_valid"]) == (0, 0)
        assert (out[5]["n_card_candidates"], out[5]["n_card_valid"]) == (0, 0)
        assert (out[6]["n_card_candidates"], out[6]["n_card_valid"]) == (2, 2)
        # redaction digest: doc 2's checksum-failing run is NOT redacted
        import hashlib
        assert out[2]["redacted_digest"] == hashlib.md5(
            b"order 4532015112830367 shipped").hexdigest()
        assert out[1]["redacted_digest"] == hashlib.md5(
            b"pay <CC> now").hexdigest()
        assert out[6]["redacted_digest"] == hashlib.md5(
            b"twice <CC> and <CC>").hexdigest()

    def test_plan_is_pure_jvm(self, spark):
        from fences_spark.operators.text import luhn_card_documents

        df = spark.createDataFrame([(1, "x 4532015112830366")],
                                   "doc_id int, text string")
        plan = luhn_card_documents(df, "doc_id", "text")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "EvalPython" not in plan and "MapInPandas" not in plan


class TestIban:
    """ISO 13616 mod-97 IBAN scrub — pinned against a pure-Python
    big-integer implementation."""

    @staticmethod
    def _py_iban(s: str) -> bool:
        r = s[4:] + s[:4]
        return int("".join(str(int(c, 36)) for c in r)) % 97 == 1

    def test_operator_matches_python_reference(self, spark):
        import random
        import string

        from fences_spark.operators.text import iban_documents

        rng = random.Random(7)
        fixed = ["GB82WEST12345698765432", "DE89370400440532013000",
                 "FR1420041010050500013M02606", "GB82WEST12345698765433"]
        randoms = [
            "".join(rng.choices(string.ascii_uppercase, k=2))
            + "".join(rng.choices(string.digits, k=2))
            + "".join(rng.choices(string.ascii_uppercase + string.digits,
                                  k=rng.randint(11, 30)))
            for _ in range(40)
        ]
        cands = fixed + randoms
        rows = [(i, f"pay {c} now") for i, c in enumerate(cands)]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        out = {r["doc_id"]: r for r in
               iban_documents(df, "doc_id", "text").collect()}
        import hashlib
        for i, c in enumerate(cands):
            want = self._py_iban(c)
            assert out[i]["n_iban_candidates"] == 1, c
            assert out[i]["n_iban_valid"] == (1 if want else 0), c
            expected_text = f"pay {'<IBAN>' if want else c} now"
            assert out[i]["redacted_digest"] == hashlib.md5(
                expected_text.encode()).hexdigest(), c

    def test_plan_is_pure_jvm(self, spark):
        from fences_spark.operators.text import iban_documents

        df = spark.createDataFrame([(1, "x DE89370400440532013000")],
                                   "doc_id int, text string")
        plan = iban_documents(df, "doc_id", "text")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "EvalPython" not in plan and "MapInPandas" not in plan


class TestEntropySecrets:
    """High-entropy secret detection — entropy math pinned against a
    pure-Python Shannon implementation."""

    KEY88 = ("pU3KGCUwux1tEyze1iN7LtkeP3IfyxlxF0SU1kk8nVw0YL4xIB5p/tqg7ui5mX9c"
             "fCmZ/a/lkyU81lSvTfrXFA==")
    TOKEN48 = "9qEwjky40UVsWmflzdE1F8ResqEDusTpkr0cStY4qWB8dWKn"
    TOKEN32 = "HfDNxSIvPZZ63fFKcZjR4I0b3jRtaWr4"
    # 66 chars: the run's first 64 chars are all name, under the threshold
    LONG_NAME = "the_configuration_value_for_the_primary_storage_account_access_key"

    @staticmethod
    def _py_entropy(s: str) -> float:
        import math
        from collections import Counter

        n = len(s)
        return -sum((c / n) * math.log2(c / n) for c in Counter(s).values())

    def test_entropy_matches_python(self, spark):
        import random
        import string

        from fences_spark.operators.text import shannon_entropy

        rng = random.Random(13)
        cases = ["aaaaaaaaaaaaaaaaaaaa", "abcdefghijklmnopqrst",
                 "sk_FqZ93xT2mWv8LpQ7rYdK4nBjhE6u"]
        cases += ["".join(rng.choices(string.ascii_letters + string.digits + "+/=_-",
                                      k=rng.randint(20, 64))) for _ in range(40)]
        df = spark.createDataFrame([(c,) for c in cases], ["x"])
        got = {r["x"]: r["h"] for r in
               df.select("x", shannon_entropy(F.col("x")).alias("h")).collect()}
        for c in cases:
            assert abs(got[c] - self._py_entropy(c)) < 1e-9, c

    def test_operator_flags_keys_not_identifiers(self, spark):
        import hashlib

        from fences_spark.operators.text import entropy_secret_documents

        rows = [
            (1, "key sk_FqZ93xT2mWv8LpQ7rYdK4nBjhE6u end"),
            (2, "var total_validation_error_count_by_bucket end"),
            (3, "pad aaaaaaaaaaaaaaaaaaaaaaaa end"),
            (4, "clean"),
            (5, "b64 Y2kvdG9rZW49WHo4MVFtNDdMcA== end"),  # padded base64 key
            (6, f"b64 {self.KEY88} end"),  # 88-char padded base64 key
            (7, f"env SOME_LONG_SETTING_NAME={self.TOKEN48} end"),
            (8, f"env {self.LONG_NAME}={self.TOKEN32} end"),  # key in tail window
            (9, "var total_validation_error_count_by_bucket_and_by_rule_and_by_source_table end"),
        ]
        df = spark.createDataFrame(rows, "doc_id int, text string")
        out = {r["doc_id"]: r for r in
               entropy_secret_documents(df, "doc_id", "text").collect()}
        assert (out[1]["n_secret_candidates"], out[1]["n_high_entropy"]) == (1, 1)
        assert out[1]["redacted_digest"] == hashlib.md5(b"key <KEY> end").hexdigest()
        assert (out[2]["n_secret_candidates"], out[2]["n_high_entropy"]) == (1, 0)
        assert out[2]["redacted_digest"] == hashlib.md5(
            b"var total_validation_error_count_by_bucket end").hexdigest()
        assert (out[3]["n_secret_candidates"], out[3]["n_high_entropy"]) == (1, 0)
        assert out[3]["max_entropy"] == 0.0
        assert out[4]["max_entropy"] is None
        # the `=` padding is part of the candidate, so none survives redaction
        assert (out[5]["n_secret_candidates"], out[5]["n_high_entropy"]) == (1, 1)
        assert out[5]["redacted_digest"] == hashlib.md5(b"b64 <KEY> end").hexdigest()
        # runs over 64 chars are candidates too, redacted whole
        for i, pre in ((6, b"b64"), (7, b"env"), (8, b"env")):
            assert (out[i]["n_secret_candidates"], out[i]["n_high_entropy"]) == (1, 1), i
            assert out[i]["redacted_digest"] == hashlib.md5(pre + b" <KEY> end").hexdigest(), i
        assert (out[9]["n_secret_candidates"], out[9]["n_high_entropy"]) == (1, 0)

    def test_plan_is_pure_jvm(self, spark):
        from fences_spark.operators.text import entropy_secret_documents

        df = spark.createDataFrame([(1, "x sk_FqZ93xT2mWv8LpQ7rYdK4nBjhE6u")],
                                   "doc_id int, text string")
        plan = entropy_secret_documents(df, "doc_id", "text")._jdf.queryExecution() \
            .executedPlan().toString()
        assert "EvalPython" not in plan and "MapInPandas" not in plan


class TestSurprisal:
    """Corpus-relative unigram surprisal — pinned against a pure-Python
    Counter implementation."""

    def test_matches_python_reference(self, spark):
        import math
        from collections import Counter

        from fences_spark.operators.text import token_surprisal_documents

        corpus = {
            1: "the cat sat on the mat",
            2: "the the the the",
            3: "zygote quasar",
            4: "",
            5: "cat mat cat MAT",   # case folding merges tokens
        }
        import re as _re
        tok = lambda s: [t for t in _re.split(r"[^a-z0-9]+", s.lower()) if t]
        counts = Counter(t for s in corpus.values() for t in tok(s))
        n_total = sum(counts.values())

        df = spark.createDataFrame(list(corpus.items()), "doc_id int, text string")
        out = {r["doc_id"]: r for r in
               token_surprisal_documents(df, "doc_id", "text").collect()}
        for doc_id, s in corpus.items():
            ts = tok(s)
            assert out[doc_id]["n_tokens"] == len(ts)
            if not ts:
                assert out[doc_id]["mean_surprisal"] is None
            else:
                want = sum(-math.log2(counts[t] / n_total) for t in ts) / len(ts)
                assert abs(out[doc_id]["mean_surprisal"] - want) < 1e-5, (doc_id, s)

    def test_boilerplate_scores_below_rare_noise(self, spark):
        from fences_spark.operators.text import token_surprisal_documents

        rows = [(i, "standard header text repeated in every file") for i in range(20)]
        rows.append((99, "xqzlt vwpmk jrdfh unique gibberish"))
        df = spark.createDataFrame(rows, "doc_id int, text string")
        out = {r["doc_id"]: r["mean_surprisal"] for r in
               token_surprisal_documents(df, "doc_id", "text").collect()}
        assert out[0] < out[99]  # boilerplate low, rare-token noise high


class TestIncrementalDedup:
    """Cross-batch exact dedup against snaplog fingerprint state."""

    def test_two_batches_and_crash_retry(self, spark, tmp_path):
        from fences_spark.operators.dedup import incremental_exact_dedup
        from fences_spark.sources import snaplog

        root = str(tmp_path / "state")
        b1 = spark.createDataFrame(
            [(1, "alpha"), (2, "beta"), (3, "alpha")], "doc_id int, text string"
        )
        s1, snap1 = incremental_exact_dedup(spark, root, b1, "doc_id", "text")
        # within-batch: alpha keeps min id 1
        assert sorted(r["doc_id"] for r in s1.collect()) == [1, 2]
        assert snap1 is not None

        b2 = spark.createDataFrame(
            [(10, "beta"), (11, "gamma"), (12, "gamma"), (13, "delta")],
            "doc_id int, text string",
        )
        s2, snap2 = incremental_exact_dedup(spark, root, b2, "doc_id", "text")
        # beta seen in batch 1 -> dropped; gamma keeps 11; delta new
        assert sorted(r["doc_id"] for r in s2.collect()) == [11, 13]
        assert snap2 is not None and snap2 != snap1
        # state holds one row per distinct kept fingerprint
        assert snaplog.read(spark, root).count() == 4  # alpha beta gamma delta

        # an all-duplicate batch contributes nothing and commits nothing
        b3 = spark.createDataFrame([(20, "alpha")], "doc_id int, text string")
        s3, snap3 = incremental_exact_dedup(spark, root, b3, "doc_id", "text")
        assert s3.count() == 0 and snap3 is None
        assert len(snaplog.read_log(root)) == 2

        # crash-retry idempotency: replaying batch 2 against the state
        # drops EVERYTHING (its fingerprints are now all seen), so a
        # re-run after a crash-after-commit cannot double-commit
        s2r, snap2r = incremental_exact_dedup(spark, root, b2, "doc_id", "text")
        assert s2r.count() == 0 and snap2r is None

    def test_incremental_minhash_near_dup(self, spark, tmp_path):
        from fences_spark.operators.dedup import incremental_minhash_dedup
        from fences_spark.sources import snaplog

        root = str(tmp_path / "nd_state")
        base = ("the quick brown fox jumps over the lazy dog and then runs "
                "far away into the deep green forest tonight looking for food")
        near = base + " indeed"  # appended word: ~0.95 shingle jaccard
        other = ("completely different content about distributed query "
                 "engines shuffling partitions across executor nodes forever "
                 "while the optimizer prunes columns and pushes filters down")

        b1 = spark.createDataFrame(
            [(1, base), (2, near), (3, other)], "doc_id int, text string"
        )
        s1, snap1 = incremental_minhash_dedup(spark, root, b1, "doc_id", "text")
        kept1 = sorted(r["doc_id"] for r in s1.collect())
        # near-dup pair collapses to its min id; other survives
        assert kept1 == [1, 3]
        assert snap1 is not None
        assert snaplog.read(spark, root).count() == 2

        # batch 2: another near-dup of base (cross-batch drop), a fresh
        # doc, and a near-dup pair within the batch
        fresh = ("a brand new document mentioning streaming watermarks and "
                 "stateful aggregation semantics with late data dropped "
                 "after the configured delay expires in the pipeline")
        fresh_near = fresh + " okay"
        b2 = spark.createDataFrame(
            [(10, base + " again"), (11, fresh), (12, fresh_near)],
            "doc_id int, text string",
        )
        s2, snap2 = incremental_minhash_dedup(spark, root, b2, "doc_id", "text")
        kept2 = sorted(r["doc_id"] for r in s2.collect())
        assert kept2 == [11]  # 10 drops vs state doc 1; 12 drops vs 11
        assert snap2 is not None
        assert snaplog.read(spark, root).count() == 3

        # replaying the committed batch is a no-op (crash-retry)
        s2r, snap2r = incremental_minhash_dedup(spark, root, b2, "doc_id", "text")
        assert s2r.count() == 0 and snap2r is None
        assert len(snaplog.read_log(root)) == 2
