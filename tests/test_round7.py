"""Round-7 optimization tests: the fused pair-cosine Arrow kernel and the
per-bucket LSH verify must be BIT-IDENTICAL to the higher-order-function
expression they replaced — including every NULL/NaN edge the expression
form produces (NULL vector, NULL element, NaN element, length mismatch,
zero norm, duplicate ids). Comparisons use collect(), not toPandas():
pandas folds NULL and NaN together, which is exactly the distinction the
Arrow boundary reconstruction must preserve."""

import math

from pyspark.sql import functions as F

from trafaret_spark.operators import similarity
from trafaret_spark.operators.similarity import (
    attach_fused_cosine, cosine, l2_norm)

NAN = float("nan")

# (id, vector) rows exercising every edge the expression form handles
EDGE_VECS = [
    (0, [1.0, 2.0, 3.0]),
    (1, [1.0, 2.0, 3.0000001]),          # near-dup of 0
    (2, [-1.0, -2.0, -3.0]),             # opposite of 0
    (3, None),                           # NULL vector
    (4, [1.0, None, 3.0]),               # NULL element
    (5, [1.0, NAN, 3.0]),                # NaN element
    (6, [1.0, 2.0]),                     # dimension mismatch
    (7, [0.0, 0.0, 0.0]),                # zero norm
    (8, [0.3, -0.7, 1.9]),
    (9, [1e308, 1e308, 1e308]),          # inf norm
]


def _mk(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<double>")


def _same(x, y):
    """None ≡ None, NaN ≡ NaN, else bitwise-equal floats."""
    if x is None or y is None:
        return x is None and y is None
    if math.isnan(x) or math.isnan(y):
        return math.isnan(x) and math.isnan(y)
    return x == y


def _fold(xs):
    acc = 0.0
    for x in xs:
        acc += x
    return acc


class TestFusedPairCosine:
    def test_matches_expression_on_all_edge_pairs(self, spark):
        """attach_fused_cosine == the HOF cosine() expression, bitwise,
        over the full cross product of edge vectors."""
        df = _mk(spark, EDGE_VECS)
        a = df.select(F.col("vec_id").alias("a"),
                      F.col("embedding").alias("__va"),
                      l2_norm("embedding").alias("__na"))
        b = df.select(F.col("vec_id").alias("b"),
                      F.col("embedding").alias("__vb"),
                      l2_norm("embedding").alias("__nb"))
        pairs = a.crossJoin(b)
        fused = {(r["a"], r["b"]): r["sim"] for r in
                 attach_fused_cosine(pairs, "__va", "__vb", "__na", "__nb")
                 .select("a", "b", "sim").collect()}
        expr = {(r["a"], r["b"]): r["sim"] for r in
                pairs.withColumn("sim", cosine(F.col("__va"),
                                               F.col("__vb")))
                .select("a", "b", "sim").collect()}
        assert set(fused) == set(expr) and len(expr) == len(EDGE_VECS) ** 2
        bad = [(k, expr[k], fused[k]) for k in expr
               if not _same(expr[k], fused[k])]
        assert not bad, bad[:10]

    def test_kernel_dot_is_strict_left_fold(self, spark):
        """A vector crafted so pairwise/compensated summation would differ
        from the strict left fold in the last bits."""
        v1 = [1e16, 1.0, -1e16, 1.0, 3.0, 7.0, -2.0, 5.0]
        v2 = [1.0] * 8
        df = spark.createDataFrame([(0, v1), (1, v2)],
                                   "vec_id long, embedding array<double>")
        a = df.filter("vec_id = 0").select(
            F.col("embedding").alias("__va"),
            l2_norm("embedding").alias("__na"))
        b = df.filter("vec_id = 1").select(
            F.col("embedding").alias("__vb"),
            l2_norm("embedding").alias("__nb"))
        pairs = a.crossJoin(b)
        [got] = attach_fused_cosine(pairs, "__va", "__vb", "__na", "__nb") \
            .select("sim").collect()
        [exp] = pairs.select(
            cosine(F.col("__va"), F.col("__vb")).alias("sim")).collect()
        assert got["sim"] == exp["sim"]
        acc = 0.0
        for x, y in zip(v1, v2):
            acc += x * y
        na = math.sqrt(_fold([x * x for x in v1]))
        nb = math.sqrt(_fold([x * x for x in v2]))
        assert got["sim"] == acc / (na * nb)


class TestLshBucketVerify:
    def test_lsh_path_equals_expression_pipeline(self, spark):
        """cosine_neardup's grouped-kernel LSH path returns exactly the
        pair set + sims of the pre-fusion expression pipeline (banded
        self-join carrying vectors, wide distinct, HOF verify)."""
        import random
        rnd = random.Random(5)
        base = [[rnd.gauss(0, 1) for _ in range(16)] for _ in range(40)]
        rows = [(i, v) for i, v in enumerate(base)]
        rows += [(100 + i, [x + 1e-7 for x in base[i]]) for i in range(10)]
        rows += [(200, None), (201, [1.0, None] + [0.0] * 14),
                 (202, [NAN] * 16), (203, [0.0] * 16),
                 (204, [1.0, 2.0])]                     # odd dim
        df = _mk(spark, rows)
        got = {(r["a"], r["b"]): r["sim"] for r in
               similarity.cosine_neardup(df, threshold=0.2, nbits=4,
                                         bands=6, seed=3).collect()}

        banded = df.select(
            F.col("vec_id"), F.col("embedding").alias("__v"),
            F.posexplode(similarity.lsh_band_buckets(
                F.col("embedding"), 4, 6, 3)).alias("band", "bucket"))
        a = banded.select(F.col("vec_id").alias("a"),
                          F.col("__v").alias("__va"), "band", "bucket")
        b = banded.select(F.col("vec_id").alias("b"),
                          F.col("__v").alias("__vb"), "band", "bucket")
        ref = {(r["a"], r["b"]): r["sim"] for r in
               (a.join(b, ["band", "bucket"])
                .filter(F.col("a") < F.col("b"))
                .dropDuplicates(["a", "b"]).drop("band", "bucket")
                .withColumn("sim", cosine(F.col("__va"), F.col("__vb")))
                .filter(F.col("sim") >= 0.2)
                .select("a", "b", "sim")).collect()}
        assert set(got) == set(ref)
        for k in ref:
            assert _same(got[k], ref[k]), (k, got[k], ref[k])
        assert len(got) >= 10      # the planted near-dups survive

    def test_blas_prefilter_margin_survives_cancellation(self, spark):
        """Vectors with catastrophic cancellation (|Σ aᵢbᵢ| ≪ Σ|aᵢbᵢ|)
        maximize the BLAS-vs-fold divergence the prefilter margin must
        cover; near-threshold sims force the boundary. Results must stay
        bit-identical to the expression pipeline."""
        import random
        rnd = random.Random(21)
        rows = []
        for i in range(30):
            big = [rnd.choice([-1e15, 1e15]) for _ in range(8)]
            small = [rnd.gauss(0, 1) for _ in range(8)]
            rows.append((i, [b + s for b, s in zip(big, small)]))
            # near-dup with flipped signs in half the big components →
            # heavy cancellation in the dot
            rows.append((100 + i,
                         [(-b if j % 2 else b) + rnd.gauss(0, 1)
                          for j, (b, s) in enumerate(zip(big, small))]))
        df = _mk(spark, rows)
        got = {(r["a"], r["b"]): r["sim"] for r in
               similarity.cosine_neardup(df, threshold=-0.1, nbits=3,
                                         bands=4, seed=2).collect()}
        banded = df.select(
            F.col("vec_id"), F.col("embedding").alias("__v"),
            F.posexplode(similarity.lsh_band_buckets(
                F.col("embedding"), 3, 4, 2)).alias("band", "bucket"))
        a = banded.select(F.col("vec_id").alias("a"),
                          F.col("__v").alias("__va"), "band", "bucket")
        b = banded.select(F.col("vec_id").alias("b"),
                          F.col("__v").alias("__vb"), "band", "bucket")
        ref = {(r["a"], r["b"]): r["sim"] for r in
               (a.join(b, ["band", "bucket"])
                .filter(F.col("a") < F.col("b"))
                .dropDuplicates(["a", "b"])
                .withColumn("sim", cosine(F.col("__va"), F.col("__vb")))
                .filter(F.col("sim") >= -0.1)
                .select("a", "b", "sim")).collect()}
        assert set(got) == set(ref) and len(got) > 50
        for k in ref:
            assert _same(got[k], ref[k]), (k, got[k], ref[k])

    def test_nan_element_pair_is_kept_with_nan_sim(self, spark):
        """A NaN-element vector pairs with sim = NaN (Spark's NaN passes
        `>= threshold`) — this pins that the NaN crosses the Arrow
        boundary as NaN, never as NULL."""
        v = [1.0, 0.0, 0.0, 0.0]
        df = _mk(spark, [(1, v), (2, v), (3, [NAN] + v[1:]),
                         (4, [NAN] + v[1:])])
        out = similarity.cosine_neardup(df, threshold=0.5, nbits=2,
                                        bands=1, seed=1).collect()
        sims = {(r["a"], r["b"]): r["sim"] for r in out}
        nan_pairs = [k for k, s in sims.items()
                     if s is not None and math.isnan(s)]
        # whether NaN rows co-bucket with the clean pair depends on the
        # quantized projection of NaN — assert only semantic invariants:
        # the clean pair survives with sim 1.0, and every surviving pair
        # touching a NaN vector has sim NaN, never NULL
        assert sims.get((1, 2)) == 1.0
        for (x, y), s in sims.items():
            if 3 in (x, y) or 4 in (x, y):
                assert s is not None and math.isnan(s)
        assert isinstance(nan_pairs, list)

    def test_blocked_path_equals_expression_pipeline(self, spark):
        """The blocked (block_cols) grouped-kernel path returns exactly
        the pair set, sims, AND column layout of the pre-fusion blocked
        self-join + HOF verify — including NULL block keys (which a
        USING-join never matches) and the max_block_size cap."""
        import random
        rnd = random.Random(11)
        rows = []
        for i in range(60):
            rows.append((i, i % 4 if i % 13 else None,
                         [rnd.gauss(0, 1) for _ in range(8)]))
        rows += [(100, 0, None), (101, 0, [1.0, None] + [0.0] * 6),
                 (102, 1, [NAN] * 8), (103, 1, [0.0] * 8)]
        df = spark.createDataFrame(
            rows, "vec_id long, label int, embedding array<double>")
        got = similarity.cosine_neardup(
            df, threshold=0.1, block_cols=["label"], max_block_size=30,
            on_drop="ignore").collect()

        from trafaret_spark.operators.dedup import capped_blocks
        v = df.select(F.col("vec_id"), F.col("label"),
                      F.col("embedding").alias("__v"))
        v = capped_blocks(v, ["label"], 30, on_drop="ignore")
        a = v.select(F.col("vec_id").alias("a"), "label",
                     F.col("__v").alias("__va"))
        b = v.select(F.col("vec_id").alias("b"), "label",
                     F.col("__v").alias("__vb"))
        ref = (a.join(b, ["label"]).filter(F.col("a") < F.col("b"))
               .withColumn("sim", cosine(F.col("__va"), F.col("__vb")))
               .filter(F.col("sim") >= 0.1)
               .drop("__va", "__vb")).collect()
        assert got and [r.__fields__ for r in got[:1]] == \
            [r.__fields__ for r in ref[:1]]
        g = {(r["label"], r["a"], r["b"]): r["sim"] for r in got}
        r_ = {(r["label"], r["a"], r["b"]): r["sim"] for r in ref}
        assert set(g) == set(r_)
        for k in r_:
            assert _same(g[k], r_[k]), (k, g[k], r_[k])

    def test_duplicate_ids_never_pair(self, spark):
        df = spark.createDataFrame(
            [(1, [1.0, 0.0]), (1, [1.0, 0.0]), (2, [1.0, 0.0])],
            "vec_id long, embedding array<double>")
        out = similarity.cosine_neardup(df, threshold=0.5, nbits=2,
                                        bands=2).collect()
        assert all(r["a"] != r["b"] for r in out)
        assert {(r["a"], r["b"]) for r in out} == {(1, 2)}


class TestGroupedJaccard:
    def _ref(self, df, thr, cap=None):
        """Pre-fusion expression pipeline, inline."""
        from trafaret_spark.operators.dedup import capped_blocks, shingles
        sh = df.select(F.col("doc_id"), F.col("lang"),
                       shingles(F.col("text"), n=1).alias("__sh"))
        if cap is not None:
            sh = capped_blocks(sh, ["lang"], cap, on_drop="ignore")
        a = sh.select(F.col("doc_id").alias("a"), "lang",
                      F.col("__sh").alias("__sa"))
        b = sh.select(F.col("doc_id").alias("b"), "lang",
                      F.col("__sh").alias("__sb"))
        pairs = a.join(b, ["lang"]).filter(F.col("a") < F.col("b"))
        inter = pairs.select(
            "a", "b", "__sa", "__sb",
            F.size(F.array_intersect("__sa", "__sb")).alias("__i"))
        union = F.size("__sa") + F.size("__sb") - F.col("__i")
        return (inter.withColumn("jaccard",
                                 F.col("__i").cast("double") / union)
                .filter(F.col("jaccard") >= thr)
                .drop("__sa", "__sb", "__i"))

    def test_bitset_path_equals_expression(self, spark):
        """Small vocabulary → bitset strategy; NULL text ([NULL] shingle
        matches [NULL]), empty text ([''] shingles), NULL block keys
        (never pair), near-dups, and the cap all behave as the old
        self-join + array_intersect."""
        from trafaret_spark.operators.dedup import ngram_jaccard_pairs
        import random
        rnd = random.Random(3)
        words = [f"w{i}" for i in range(20)]
        rows = []
        for i in range(80):
            k = rnd.randint(3, 10)
            rows.append((i, "en" if i % 3 else "de",
                         " ".join(rnd.sample(words, k))))
        rows += [(100, "en", None), (101, "en", None), (102, "en", ""),
                 (103, "en", ""), (104, None, "w1 w2 w3"),
                 (105, None, "w1 w2 w3"), (106, "de", "w1! w2, w3")]
        df = spark.createDataFrame(rows,
                                   "doc_id long, lang string, text string")
        got = {(r["a"], r["b"]): r["jaccard"] for r in
               ngram_jaccard_pairs(df, ["lang"], threshold=0.3, n=1,
                                   max_block_size=60,
                                   on_drop="ignore").collect()}
        ref = {(r["a"], r["b"]): r["jaccard"] for r in
               self._ref(df, 0.3, cap=60).collect()}
        assert set(got) == set(ref)
        for k in ref:
            assert _same(got[k], ref[k]), (k, got[k], ref[k])
        assert (100, 101) in got and got[(100, 101)] == 1.0   # NULL text
        assert (102, 103) in got and got[(102, 103)] == 1.0   # '' shingle
        assert not any(104 in k or 105 in k for k in got)      # NULL block

    def test_postings_path_equals_expression(self, spark):
        """> 65 536 distinct shingles in one block → the token-postings
        strategy; same results as the expression pipeline."""
        from trafaret_spark.operators.dedup import ngram_jaccard_pairs
        import random
        rnd = random.Random(9)
        # 48 docs × ~2900 distinct words from a 70k vocabulary, with
        # planted near-dup pairs sharing most of their words
        rows = []
        for i in range(24):
            base = rnd.sample(range(70_000), 2_900)
            rows.append((i, "en", " ".join(f"t{w}" for w in base)))
            drop = set(rnd.sample(base, 100))
            rows.append((1000 + i, "en",
                         " ".join(f"t{w}" for w in base if w not in drop)))
        df = spark.createDataFrame(rows,
                                   "doc_id long, lang string, text string")
        got = {(r["a"], r["b"]): r["jaccard"] for r in
               ngram_jaccard_pairs(df, ["lang"], threshold=0.9,
                                   n=1).collect()}
        ref = {(r["a"], r["b"]): r["jaccard"] for r in
               self._ref(df, 0.9).collect()}
        assert set(got) == set(ref) and len(got) == 24
        for k in ref:
            assert _same(got[k], ref[k]), (k, got[k], ref[k])


class TestTopkFusedPaths:
    def test_cosine_topk_unchanged_values(self, spark):
        df = _mk(spark, EDGE_VECS)
        q = df.filter("vec_id in (0, 4, 7)").select(
            F.col("vec_id").alias("query_id"), "embedding")
        out = similarity.cosine_topk(df, q, k=3).collect()
        vecs = dict(EDGE_VECS)
        assert len(out) == 9
        for r in out:
            exp = _ref_cosine(vecs[r["query_id"]], vecs[r["vec_id"]])
            assert _same(r["sim"], exp), \
                (r["query_id"], r["vec_id"], r["sim"], exp)

    def test_lsh_and_ivf_topk_still_rank(self, spark):
        df = _mk(spark, [(i, [float(i == j) for j in range(8)])
                         for i in range(8)] + [(8, [1.0] * 8)])
        q = df.filter("vec_id = 8").select(
            F.col("vec_id").alias("query_id"), "embedding")
        lsh = similarity.lsh_cosine_topk(df, q, k=3, nbits=4, bands=4)
        ivf = similarity.ivf_cosine_topk(df, q, k=3, n_centroids=4, nprobe=2)
        for out in (lsh, ivf):
            rows = out.collect()
            assert out.columns == ["query_id", "vec_id", "sim", "rank"]
            assert [r["rank"] for r in rows] == list(range(1, len(rows) + 1))
            for r in rows:
                assert r["sim"] is not None and r["sim"] > 0


def _ref_cosine(a, b):
    """Strict-fold python reference of the JVM expression semantics."""
    if a is None or b is None or len(a) != len(b):
        return None
    if any(x is None for x in a) or any(x is None for x in b):
        return None
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    na = math.sqrt(_fold([x * x for x in a]))
    nb = math.sqrt(_fold([x * x for x in b]))
    den = na * nb
    if den == 0.0:
        return None
    return acc / den
