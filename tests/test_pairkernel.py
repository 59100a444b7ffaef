"""The grouped pair kernel (operators/pairkernel.py).

Spark-free: the pair-chunk iterator covers every i < j pair exactly once
within its byte budget, the list→matrix helper is bit-equal to a per-row
``np.vstack``, and the postings Jaccard strategy stays exact while it
compacts. With Spark: NULL ids and duplicated input rows give the same
pairs and ranks as the ``array<float>`` expression path."""

import random

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

from trafaret_spark.operators import pairkernel, similarity
from trafaret_spark.operators.dedup import ngram_jaccard_pairs, shingles
from trafaret_spark.operators.pairkernel import (
    PAIR_BUDGET, jaccard_scorer, list_matrix, pair_blocks)


class TestPairBlocks:
    @pytest.mark.parametrize("m", [0, 1, 2, 3, 17, 300])
    @pytest.mark.parametrize("width", [1, 8, 24, 512])
    def test_every_pair_once_within_budget(self, m, width):
        budget = 512
        chunks = list(pair_blocks(m, width, budget))
        for i, j in chunks:
            assert 0 < len(i) == len(j)
            assert len(i) * width <= budget
        got = (np.concatenate([np.stack([i, j], 1) for i, j in chunks])
               if chunks else np.empty((0, 2), dtype=np.int64))
        assert got.tolist() == np.stack(np.triu_indices(m, 1), 1).tolist()

    def test_row_wider_than_budget_is_one_pair_per_chunk(self):
        chunks = list(pair_blocks(5, 4096, 512))
        assert len(chunks) == 10 and all(len(i) == 1 for i, _ in chunks)

    def test_widest_bitset_chunk_fits_budget(self):
        # at the 65 536-shingle bitset cutoff a row is 1024 uint64 words:
        # a chunk sized by pair count alone would be ~2 GiB per temporary
        width = 8 * 1024
        assert max(len(i) for i, _ in pair_blocks(725, width)) * width \
            <= PAIR_BUDGET


class TestListMatrix:
    @pytest.mark.parametrize("elem", [pa.float32(), pa.float64()])
    def test_bit_equal_to_vstack_with_masking(self, elem):
        rnd = random.Random(4)
        good = [[rnd.gauss(0, 1e3) for _ in range(6)] for _ in range(30)]
        rows = good + [None, [1.0, 2.0], [1.0, None, 3.0, 4.0, 5.0, 6.0]]
        arr = pa.array(rows, pa.list_(elem))
        mat, ok = list_matrix(arr)
        np_t = np.float32 if elem == pa.float32() else np.float64
        ref = np.vstack([np.asarray(r, dtype=np_t) for r in good])
        assert mat.dtype == np.float64 and mat.shape == (33, 6)
        assert ok.tolist() == [True] * 30 + [False, False, True]
        assert (mat[:30] == ref).all()
        assert not mat[30:32].any()               # masked rows are zero
        assert np.isnan(mat[32, 1])               # NULL element → NaN
        mat2, ok2 = list_matrix(pa.chunked_array([arr[:10], arr[10:]]), 2)
        assert ok2.tolist() == [False] * 31 + [True, False]
        assert mat2[31].tolist() == [1.0, 2.0]


def _jaccard_ref(docs):
    out = {}
    for i in range(len(docs)):
        for j in range(i + 1, len(docs)):
            a, b = set(docs[i]), set(docs[j])
            inter = len(a & b)
            if inter:
                out[(i, j)] = inter / (len(a) + len(b) - inter)
    return out


def test_postings_compaction_stays_exact(monkeypatch):
    """> 65 536 distinct shingles → postings strategy; a tiny budget
    makes the pending pair keys compact into the running (key, count)
    table many times over, and the counts must still be exact."""
    monkeypatch.setattr(pairkernel, "PAIR_BUDGET", 256)
    rnd = random.Random(9)
    docs = []
    for _ in range(10):
        base = rnd.sample(range(70_000), 3_000)
        drop = set(rnd.sample(base, 100))
        docs.append([f"t{w}" for w in base])
        docs.append([f"t{w}" for w in base if w not in drop])
    tbl = pa.table({"__id": pa.array(range(len(docs)), pa.int64()),
                    "__sh": pa.array(docs, pa.list_(pa.string()))})
    pi, pj, jac = jaccard_scorer(0.0)(tbl)
    got = dict(zip(zip(pi.tolist(), pj.tolist()), jac.tolist()))
    assert got == _jaccard_ref(docs)


# ---------------------------------------------------------------------------
# NULL ids and duplicate rows, against the expression path
# ---------------------------------------------------------------------------

NULL_ID_ROWS = [(1, 0, [1.0, 0.0, 0.0]), (None, 0, [1.0, 0.0, 0.0]),
                (3, 0, [1.0, 0.0, 0.0]), (4, 0, [1.0, 1.0, 0.0]),
                (5, 0, [0.0, 0.0, 1.0]), (6, 1, [1.0, 2.0, 3.0]),
                (None, 1, [1.0, 2.0, 3.0]), (8, 1, [1.0, 2.0, 2.0])]


def _with_elem(df, elem):
    return df.withColumn("embedding",
                         F.col("embedding").cast(f"array<{elem}>"))


class TestNullIds:
    @pytest.fixture()
    def vecs(self, spark):
        return spark.createDataFrame(
            NULL_ID_ROWS, "vec_id int, label int, embedding array<double>")

    def test_blocked_cosine(self, vecs):
        def pairs(elem):
            out = similarity.cosine_neardup(
                _with_elem(vecs, elem), threshold=0.5, block_cols=["label"])
            return {(r["label"], r["a"], r["b"]) for r in out.collect()}
        kernel = pairs("double")
        assert kernel == pairs("float")
        assert kernel == {(0, 1, 3), (0, 1, 4), (0, 3, 4), (1, 6, 8)}

    def test_lsh_cosine(self, vecs):
        def pairs(elem):
            out = similarity.cosine_neardup(
                _with_elem(vecs, elem), threshold=0.5, nbits=2, bands=4,
                seed=1, dim=3)
            return {(r["a"], r["b"]) for r in out.collect()}
        kernel = pairs("double")
        assert kernel == pairs("float")
        assert (1, 3) in kernel
        assert all(a is not None and b is not None for a, b in kernel)

    def test_jaccard_string_ids(self, spark):
        rows = [("d1", "en", "a b c d"), (None, "en", "a b c d"),
                ("d3", "en", "a b c e"), ("d4", "en", "x y z"),
                ("d5", "de", "a b"), (None, "de", "a b")]
        df = spark.createDataFrame(rows,
                                   "doc_id string, lang string, text string")
        got = {(r["a"], r["b"]): r["jaccard"] for r in
               ngram_jaccard_pairs(df, ["lang"], threshold=0.5).collect()}
        sh = df.select("doc_id", "lang",
                       shingles(F.col("text"), n=1).alias("__sh"))
        a = sh.select(F.col("doc_id").alias("a"), "lang",
                      F.col("__sh").alias("__sa"))
        b = sh.select(F.col("doc_id").alias("b"), "lang",
                      F.col("__sh").alias("__sb"))
        i = F.size(F.array_intersect("__sa", "__sb"))
        ref = (a.join(b, ["lang"]).filter(F.col("a") < F.col("b"))
               .withColumn("jaccard", i.cast("double")
                           / (F.size("__sa") + F.size("__sb") - i))
               .filter(F.col("jaccard") >= 0.5))
        assert got == {(r["a"], r["b"]): r["jaccard"] for r in ref.collect()}
        assert got == {("d1", "d3"): 0.6}


def test_topk_duplicate_corpus_row_ranks_once(spark):
    """A corpus row duplicated verbatim must take one rank slot per
    (query, id) on the fused array<double> path, exactly as the
    array<float> path's dropDuplicates after its vector join does."""
    vecs = [[1.0, 0.0, 0.0, 0.0], [1.0, 1.0, 0.0, 0.0],
            [1.0, 2.0, 0.0, 0.0], [1.0, 0.0, 3.0, 0.0],
            [0.0, 0.0, 0.0, 1.0], [1.0, 1.0, 1.0, 1.0]]
    rows = [(i, v) for i, v in enumerate(vecs)] + [(1, vecs[1])]
    corpus = spark.createDataFrame(rows, "vec_id long, embedding "
                                         "array<double>")
    queries = spark.createDataFrame([(100, [1.0, 0.5, 0.25, 0.0])],
                                    "query_id long, embedding array<double>")

    def ranked(fn, elem, **kw):
        out = fn(_with_elem(corpus, elem), _with_elem(queries, elem), k=4,
                 **kw)
        return sorted((r["query_id"], r["vec_id"], r["rank"])
                      for r in out.collect())

    for fn, kw in ((similarity.lsh_cosine_topk, {"nbits": 1, "bands": 4}),
                   (similarity.ivf_cosine_topk,
                    {"n_centroids": 2, "nprobe": 2})):
        got = ranked(fn, "double", **kw)
        assert len({(q, v) for q, v, _ in got}) == len(got), (fn, got)
        assert got == ranked(fn, "float", **kw), fn
        assert sorted(r for _, _, r in got) == list(range(1, len(got) + 1))
