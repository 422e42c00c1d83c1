"""Operator-layer tests: spatial join, kNN, dedup, similarity, text,
partitioning — against NumPy ground truth and planted fixtures."""

import itertools
import json
from decimal import ROUND_HALF_UP, Decimal

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from a5pg_spark.core import bits
from a5pg_spark.operators import dedup, geometry as G, knn, similarity, spatial_join, text
from a5pg_spark.plans import partitioning
from a5pg_spark.sources import polygons as polysrc


@pytest.fixture(scope="module")
def elephant(spark):
    return polysrc.elephant_polygons(spark)


class TestSpatialJoin:
    def test_polygon_cover_classification(self, spark, elephant):
        cover = spatial_join.polygon_cover(elephant, res=8).toPandas()
        assert set(cover.part) == {"head_trunk", "ear_left", "ear_right",
                                   "eye_left", "eye_right"}
        polys = cover[~cover.part.str.startswith("eye")]
        assert polys.interior.any() or len(polys) > 0
        # every cover cell's origin is on face 3 quintant 4 (golden region)
        assert all(bits.origin_of(int(c)) == 19 for c in cover.cell)

    def test_spatial_join_matches_numpy_truth(self, spark, elephant):
        # deterministic probe grid over the elephant bbox (plus far-away noise)
        xs = np.linspace(-1.3, 1.3, 27)
        ys = np.linspace(-1.4, 1.2, 27)
        gx, gy = np.meshgrid(xs, ys)
        pts = pd.DataFrame({
            "pid": np.arange(gx.size),
            "lon": gx.ravel(), "lat": gy.ravel(),
        })
        noise = pd.DataFrame({"pid": [9991, 9992], "lon": [100.0, -50.0],
                              "lat": [40.0, -30.0]})
        pts = pd.concat([pts, noise], ignore_index=True)
        pdf = spark.createDataFrame(pts)
        out = spatial_join.spatial_join(pdf, elephant, res=8).toPandas()

        # ground truth via the same PIP kernel applied directly
        geoms = {r.part: json.loads(r.geom_json)
                 for r in elephant.collect() if "eye" not in r.part}
        expected = set()
        for part, geom in geoms.items():
            polys = [geom["coordinates"]]
            m = np.zeros(len(pts), dtype=bool)
            for poly in polys:
                m |= G.point_in_polygon(pts.lon.to_numpy(), pts.lat.to_numpy(), poly)
            expected |= {(part, int(pid)) for pid in pts.pid.to_numpy()[m]}
        got = {(r.part, int(r.pid)) for _, r in out.iterrows() if "eye" not in r.part}
        assert got == expected

    def test_assign_cells_distinct_elephant(self, spark, elephant):
        # the reference's final stage: DISTINCT (part, cell)
        fc = polysrc.elephant_feature_collection()
        rows = []
        for f in fc["features"]:
            g = f["geometry"]
            if g["type"] != "Polygon":
                continue
            grid = G.bbox_grid_points(g["coordinates"], 50)
            for lon, lat in grid:
                rows.append((f["properties"]["part"], lon, lat))
        pdf = spark.createDataFrame(pd.DataFrame(rows, columns=["part", "lon", "lat"]))
        cells_df = spatial_join.assign_cells_distinct(pdf, res=10).toPandas()
        # all in face-3 quintant-4 (matches the golden corpus origins)
        assert all(bits.origin_of(int(c)) == 19 for c in cells_df.cell_id)
        assert cells_df.groupby("part").size().min() > 5


class TestKnn:
    def test_knn_matches_bruteforce(self, spark):
        rng = np.random.default_rng(5)
        # clustered points around three cities + sparse noise
        centers = [(-74.0, 40.7), (2.35, 48.85), (139.7, 35.7)]
        pts = []
        for cx, cy in centers:
            pts.append(np.column_stack([
                cx + rng.normal(0, 0.5, 60), cy + rng.normal(0, 0.5, 60)]))
        pts.append(np.column_stack([rng.uniform(-180, 180, 30),
                                    rng.uniform(-60, 60, 30)]))
        P = np.concatenate(pts)
        points = pd.DataFrame({"pid": np.arange(len(P)), "lon": P[:, 0], "lat": P[:, 1]})
        queries = pd.DataFrame({"qid": [0, 1, 2],
                                "lon": [-74.1, 2.5, 100.0],
                                "lat": [40.8, 48.8, 0.0]})
        out = knn.knn_join(spark.createDataFrame(queries),
                           spark.createDataFrame(points), k=5, res=10).toPandas()
        for _, q in queries.iterrows():
            d = G.haversine_np(q.lon, q.lat, P[:, 0], P[:, 1])
            want = set(np.argsort(d, kind="stable")[:5].tolist())
            got = set(out[out.qid == q.qid].pid.tolist())
            assert got == want, f"qid {q.qid}: {got} != {want}"
            assert len(out[out.qid == q.qid]) == 5


class TestDedup:
    @pytest.fixture(scope="class")
    def docs(self, spark, sf_dir):
        base = spark.read.parquet(f"{sf_dir}/documents.parquet")
        # plant exact + near duplicates (deterministic source rows)
        d0 = base.orderBy("doc_id").limit(3).collect()
        extra = [
            (90001, d0[0].text, d0[0].lang, "planted", len(d0[0].text)),          # exact dup
            (90002, d0[1].text + " extra tail!", d0[1].lang, "planted", 1),       # near dup
        ]
        planted = spark.createDataFrame(extra, base.schema)
        return base.unionByName(planted)

    def test_exact_dedup(self, spark, docs):
        n = docs.count()
        out = dedup.exact_dedup(docs)
        assert out.count() == n - 1  # one planted exact duplicate removed
        assert out.filter(F.col("doc_id") == 90001).count() == 0

    def test_minhash_lsh_finds_planted_pairs(self, spark, docs):
        pairs = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5).toPandas()
        found = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
        d0 = docs.orderBy("doc_id").limit(3).collect()
        assert (d0[0].doc_id, 90001) in found          # exact dup (J=1)
        assert (d0[1].doc_id, 90002) in found          # near dup
        assert (pairs.jaccard <= 1.0).all() and (pairs.jaccard >= 0.5).all()

    def test_minhash_portable_mode_matches_default(self, spark, docs):
        """The portable-hash mode (oracle-checkable arithmetic) finds the
        same verified pairs as the xxhash64 default — only the LSH hashing
        differs, and exact Jaccard verify makes both converge."""
        a = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5).toPandas()
        b = dedup.minhash_lsh_pairs(
            docs, jaccard_threshold=0.5, hash_mode="portable"
        ).toPandas()
        pa = sorted(zip(a.id_a, a.id_b, a.jaccard))
        pb = sorted(zip(b.id_a, b.id_b, b.jaccard))
        assert pa == pb

    def test_ngram_jaccard_exact_pairs(self, spark, docs):
        """Counted-overlap Jaccard equals a brute-force Python-set Jaccard
        over every pair of the planted corpus, rounded as Spark's ``round``
        (half up).  MinHash-LSH, which is probabilistic, finds the same
        pairs on this corpus."""
        k = 5
        sets = sorted((r.doc_id, {r.text[i:i + k] for i in range(max(1, len(r.text) - k + 1))})
                      for r in docs.select("doc_id", "text").collect())
        want = []
        for (a, sa), (b, sb) in itertools.combinations(sets, 2):
            n = len(sa & sb)
            j = n / (len(sa) + len(sb) - n)
            if j >= 0.5:
                want.append((a, b, float(Decimal(repr(j)).quantize(
                    Decimal("1e-6"), ROUND_HALF_UP))))
        b = dedup.ngram_jaccard_pairs(docs, jaccard_threshold=0.5).toPandas()
        pb = sorted(zip(b.id_a, b.id_b, b.jaccard))
        assert pb == want and len(want) >= 2
        a = dedup.minhash_lsh_pairs(docs, jaccard_threshold=0.5).toPandas()
        assert sorted(zip(a.id_a, a.id_b, a.jaccard)) == pb

    def test_ngram_jaccard_identical_documents(self, spark):
        """102 copies of one text: every shingle is in all 102 documents,
        and every one of the 5,151 pairs is found with J = 1."""
        df = spark.createDataFrame(
            [(i, "the quick brown fox jumps over") for i in range(102)],
            "doc_id long, text string")
        pairs = dedup.ngram_jaccard_pairs(df, jaccard_threshold=0.5).toPandas()
        assert len(pairs) == 5151
        assert set(zip(pairs.id_a, pairs.id_b)) == set(itertools.combinations(range(102), 2))
        assert (pairs.jaccard == 1.0).all()

    def test_simhash_near_dup(self, spark, docs):
        pairs = dedup.simhash_near_dup_pairs(docs, max_hamming=3).toPandas()
        found = {(a, b) for a, b in zip(pairs.id_a, pairs.id_b)}
        d0 = docs.orderBy("doc_id").limit(1).collect()
        assert (d0[0].doc_id, 90001) in found          # identical text → hamming 0

    def test_simhash_portable_mode(self, spark, docs):
        """Portable 32-bit mode: identical text still pairs at hamming 0,
        hashes stay within 32 bits, and the identical-text law holds —
        equal text ⇒ equal simhash."""
        pairs = dedup.simhash_near_dup_pairs(
            docs, max_hamming=3, hash_mode="portable"
        ).toPandas()
        got = {(a, b): h for a, b, h in
               zip(pairs.id_a, pairs.id_b, pairs.hamming)}
        d0 = docs.orderBy("doc_id").limit(1).collect()
        assert got.get((d0[0].doc_id, 90001)) == 0
        sh = dedup.simhash(docs, hash_mode="portable").select("simhash").toPandas()
        assert ((sh.simhash >= 0) & (sh.simhash < (1 << 32))).all()

    def test_phash_near_dup(self, spark):
        """Planted ≤3-bit pairs are all recovered with exact Hamming values;
        the planted 5-bit pair shares bands (candidate) but is rejected."""
        from __spark_entry__ import _phash_fixture

        rows = _phash_fixture(64)
        df = spark.createDataFrame(rows, "image_id string, phash long")
        pairs = dedup.phash_near_dup_pairs(df, max_hamming=3).toPandas()
        got = {(a, b): h for a, b, h in
               zip(pairs.id_a, pairs.id_b, pairs.hamming)}
        ph = dict(rows)
        for i in range(64):
            a, b = f"img{i-1:012d}", f"img{i:012d}"
            if i % 4 == 1:
                want = bin((ph[a] ^ ph[b]) & ((1 << 64) - 1)).count("1")
                assert got.get((a, b)) == want and want <= 3
            if i % 16 == 2:
                c = f"img{i-2:012d}"
                assert (c, b) not in got  # hamming 5: candidate, rejected

    def test_embedding_near_dup(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        one = emb.limit(1).collect()[0]
        jit = [float(x) * 1.001 for x in one.embedding]
        planted = spark.createDataFrame([(99001, jit, one.label)], emb.schema)
        pairs = dedup.embedding_near_dup_pairs(
            emb.unionByName(planted), cosine_threshold=0.999
        ).toPandas()
        assert ((pairs.id_a == one.vec_id) & (pairs.id_b == 99001)).any()


    def test_connected_components_chain(self, spark):
        # chain 1-2, 2-3 plus islands 10-11 and singleton-free 20-21-22 clique:
        # transitively 1,2,3 share a component even though (1,3) is no pair
        pairs = spark.createDataFrame(
            [(2, 1), (2, 3), (10, 11), (20, 21), (21, 22), (20, 22)],
            "id_a long, id_b long")
        got = {(r.node, r.comp)
               for r in dedup.connected_components(pairs).collect()}
        assert got == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
                       (20, 20), (21, 20), (22, 20)}


class TestSimilarity:
    def test_srp_ann_recall(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
        exact = similarity.cosine_topk(q, emb, k=10).toPandas()
        # synthetic embeddings are near-random (top-10 cosine ≈ 0.25-0.4), so
        # few planes + many tables is the calibrated operating point
        approx = similarity.srp_ann_topk(q, emb, k=10, planes=4, tables=8).toPandas()
        recalls = []
        for qid in exact.qid.unique():
            e = set(exact[exact.qid == qid].vec_id)
            a = set(approx[approx.qid == qid].vec_id)
            recalls.append(len(e & a) / len(e))
        assert np.mean(recalls) >= 0.5, recalls

    def test_ivf_ann_recall_and_determinism(self, spark, sf_dir):
        emb = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
        sample = emb.filter(F.col("vec_id") < 200).orderBy("vec_id").toPandas()
        C = similarity.kmeans_fit(np.stack(sample.embedding.to_numpy()), k=8)
        # deterministic training: same sample -> identical centroids
        C2 = similarity.kmeans_fit(np.stack(sample.embedding.to_numpy()), k=8)
        assert (C == C2).all()
        q = emb.filter(F.col("vec_id") < 5).select(
            F.col("vec_id").alias("qid"), F.col("embedding").alias("qe"))
        exact = similarity.cosine_topk(q, emb, k=10).toPandas()
        approx = similarity.ivf_ann_topk(q, emb, k=10, centroids=C, nprobe=3).toPandas()
        recalls = []
        for qid in exact.qid.unique():
            e = set(exact[exact.qid == qid].vec_id)
            a = set(approx[approx.qid == qid].vec_id)
            recalls.append(len(e & a) / len(e))
        # nprobe=3 of 8 lists scans ~3/8 of the corpus; near-random vectors
        # give recall well above that fraction because near neighbours
        # co-locate with the query's lists
        assert np.mean(recalls) >= 0.4, recalls


class TestText:
    def test_annotate_features(self, spark):
        df = spark.createDataFrame(pd.DataFrame({
            "doc_id": [1, 2, 3],
            "text": [
                "the quick brown fox jumps over the lazy dog and it is fine",
                "der hund und die katze sind nicht ein problem für uns",
                "!!! ??? ...",
            ]}))
        out = text.annotate(df).toPandas().set_index("doc_id")
        assert out.loc[1, "lang_pred"] == "en"
        assert out.loc[2, "lang_pred"] == "de"
        assert out.loc[1, "n_tokens"] == 13
        assert out.loc[3, "punct_ratio"] > 0.5
        assert out.loc[1, "quality"] > out.loc[3, "quality"]
        assert out.loc[1, "fingerprint"] != out.loc[2, "fingerprint"]

    def test_subword_count(self, spark):
        df = spark.createDataFrame(pd.DataFrame({"text": ["abc123, def!"]}))
        # subwords: abc, 123, ",", def, "!"
        n = df.select(text.subword_count("text").alias("n")).first().n
        assert n == 5

    @staticmethod
    def _py_winnow(s, k=3, w=4):
        ts = [t for t in s.lower().strip().split() if t]
        th = lambda t: __import__("functools").reduce(
            lambda a, c: (a * 131 + ord(c)) % 2147483648, t, 0)
        hv = [th(t) for t in ts]
        if not hv:
            return []
        gf = lambda sl: __import__("functools").reduce(
            lambda a, h: (a * 1000003 + h) % 2147483648, sl, 0)
        grams = [gf(hv[i:i + k]) for i in range(max(1, len(hv) - k + 1))]
        mins = [min(grams[j:j + w])
                for j in range(max(1, len(grams) - w + 1))]
        return list(dict.fromkeys(mins))

    def test_winnow_matches_reference_impl(self, spark):
        texts = [
            "the quick brown fox jumps over the lazy dog again and again",
            "one two",            # fewer tokens than k
            "a b c",              # exactly k tokens -> one gram, one window
            "a b c d e f",        # grams < w -> single boundary window
            "",                   # empty -> empty fingerprint set
            "  Spaces   and  CASE  Mixed  tokens  HERE  ok  then  more ",
        ]
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": range(len(texts)), "text": texts}))
        out = (df.select("doc_id",
                         text.winnow_fingerprints_col("text").alias("fps"))
               .orderBy("doc_id").collect())
        for r, s in zip(out, texts):
            assert sorted(r.fps) == sorted(self._py_winnow(s)), s

    def test_winnow_shared_run_guarantee(self, spark):
        # the paper's guarantee: a shared token run of length >= k+w-1 (=6)
        # produces at least one shared fingerprint
        shared = "alpha beta gamma delta epsilon zeta"
        a, b = f"xx yy {shared} zz", f"{shared} pp qq rr"
        df = spark.createDataFrame(
            pd.DataFrame({"doc_id": [0, 1], "text": [a, b]}))
        fa, fb = [set(r.fps) for r in df.select(
            text.winnow_fingerprints_col("text").alias("fps")).collect()]
        assert fa & fb


class TestPlans:
    def test_salted_repartition_preserves_rows(self, spark):
        df = spark.sql(
            "SELECT a5_synth_cell(id, 8) AS cell, id AS v FROM range(0, 1000)")
        out = partitioning.salted_repartition_by_prefix(df, coarse_res=3,
                                                        salt_buckets=4,
                                                        num_partitions=8)
        assert out.count() == 1000
        assert set(out.columns) == {"cell", "v"}


class TestStreaming:
    def test_streaming_plan_builds(self, spark):
        from a5pg_spark.streaming import ingest

        pts = ingest.rate_points_stream(spark, rows_per_sec=10)
        agg = ingest.streaming_cell_counts(pts, res=6)
        assert agg.isStreaming
        assert set(agg.columns) == {"start", "end", "parent_cell", "n"}
