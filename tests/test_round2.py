"""Round-2 behaviors: ANSI neutrality, per-name extras, codec-failure
parity, tie-break consistency, portable hashing, block caps.

The ANSI tests flip ``spark.sql.ansi.enabled`` at runtime (it is a
session-level SQL conf) so the same fixtures exercise both modes — the
round-1 blind spot was testing only under the library's ANSI-off session.
"""

import contextlib

import duckdb
import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

import trafaret_spark as ts
from trafaret_spark.operators import dedup, similarity, textstats
from trafaret_spark.operators.asof import asof_join
from trafaret_spark.operators.hashing import M31, TOK31_DUCKDB, hash60, tok31


def _reference():
    """The reference oracle (read-only import); its parity checks are
    skipped, with the reason, when it is not installed."""
    return pytest.importorskip(
        "trafaret", reason="reference trafaret library not installed")


@contextlib.contextmanager
def ansi(spark, enabled: bool):
    old = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", str(enabled).lower())
    try:
        yield
    finally:
        spark.conf.set("spark.sql.ansi.enabled", old)


# ---------------------------------------------------------------------------
# extras: per-name ignore + extras_guard
# ---------------------------------------------------------------------------

class TestExtrasRound2:
    def test_ignore_extra_per_name(self, spark):
        df = spark.createDataFrame([("a", "b", "c")],
                                   "x string, e1 string, e2 string")
        schema = ts.Schema(ts.Key("x", ts.String()))
        # named ignore drops only those names
        out = ts.apply_schema(df, schema.ignore_extra("e1", "e2"))
        assert set(out.columns) == {"x", "errors"}
        # an extra OUTSIDE the named list still raises
        with pytest.raises(ts.SchemaError):
            ts.apply_schema(df, schema.ignore_extra("e1"))
        # '*' drops everything
        out2 = ts.apply_schema(df, schema.ignore_extra("*"))
        assert set(out2.columns) == {"x", "errors"}
        # reference parity (trafaret/base.py:1074-1076)
        t = _reference()
        DataError = t.DataError
        ref = t.Dict({t.Key("x"): t.String})
        assert ref.ignore_extra("e1", "e2").check(
            {"x": "a", "e1": "b", "e2": "c"}) == {"x": "a"}
        with pytest.raises(DataError):
            ref.ignore_extra("e1").check({"x": "a", "e1": "b", "e2": "c"})

    def test_extras_guard_validates_kept_extras(self, spark):
        df = spark.createDataFrame(
            [("r1", "click"), ("r2", "bogus"), ("r3", None)],
            "x string, chan string")
        schema = ts.Schema(ts.Key("x", ts.String())) \
            .allow_extra("chan", trafaret=ts.Enum("click", "view"))
        rows = {r["x"]: r for r in ts.apply_schema(df, schema).collect()}
        assert rows["r1"]["chan"] == "click" and rows["r1"]["errors"] == []
        assert rows["r2"]["chan"] is None
        assert [e["code"] for e in rows["r2"]["errors"]] == ["does_not_match_any"]
        # NULL extra ~ absent key: no error, no value
        assert rows["r3"]["chan"] is None and rows["r3"]["errors"] == []
        # reference parity (trafaret/base.py:1167-1176)
        t = _reference()
        DataError = t.DataError
        ref = t.Dict({t.Key("x"): t.String}, allow_extra=["chan"],
                     allow_extra_trafaret=t.Enum("click", "view"))
        assert ref.check({"x": "a", "chan": "click"}) == \
            {"x": "a", "chan": "click"}
        with pytest.raises(DataError):
            ref.check({"x": "a", "chan": "bogus"})

    def test_default_failing_guard_masks_value(self, spark):
        # absent column whose default fails its own guard: NULL value + error
        df = spark.createDataFrame([("r1",)], "x string")
        schema = ts.Schema(ts.Key("x", ts.String()),
                           ts.Key("n", ts.Int(gte=10), default=3))
        row = ts.apply_schema(df, schema).collect()[0]
        assert row["n"] is None
        assert [e["code"] for e in row["errors"]] == ["too_small"]


# ---------------------------------------------------------------------------
# ToBytes / FromBytes codec-failure parity
# ---------------------------------------------------------------------------

class TestBytesCodecParity:
    def test_tobytes_cannot_be_encoded(self, spark):
        df = spark.createDataFrame([("plain",), ("héllo ツ",), (None,)],
                                   "s string")
        schema = ts.Schema(ts.Key("s", ts.ToBytes("ascii"), optional=True))
        rows = ts.apply_schema(df, schema).collect()
        assert bytes(rows[0]["s"]) == b"plain" and rows[0]["errors"] == []
        assert rows[1]["s"] is None
        assert [e["code"] for e in rows[1]["errors"]] == ["cannot_be_encoded"]
        assert rows[2]["errors"] == []
        # reference raises the same code (trafaret/base.py:687-712)
        t = _reference()
        DataError = t.DataError
        ref = t.ToBytes(encoding="ascii")
        assert ref.check("plain") == b"plain"
        with pytest.raises(DataError) as ei:
            ref.check("héllo ツ")
        assert "cannot be encoded" in str(ei.value)

    def test_frombytes_cannot_be_decoded(self, spark):
        df = spark.createDataFrame(
            [Row(b=b"ok bytes"), Row(b=b"\xff\xfe\xf0"), Row(b=None)])
        schema = ts.Schema(ts.Key("b", ts.FromBytes("utf-8"), optional=True))
        rows = ts.apply_schema(df, schema).collect()
        assert rows[0]["b"] == "ok bytes" and rows[0]["errors"] == []
        assert rows[1]["b"] is None
        assert [e["code"] for e in rows[1]["errors"]] == ["cannot_be_decoded"]
        assert rows[2]["errors"] == []
        t = _reference()
        DataError = t.DataError
        ref = t.FromBytes(encoding="utf-8")
        assert ref.check(b"ok bytes") == "ok bytes"
        with pytest.raises(DataError) as ei:
            ref.check(b"\xff\xfe\xf0")
        assert "cannot be decoded" in str(ei.value)

    def test_ascii_frombytes_gate(self, spark):
        df = spark.createDataFrame([Row(b=b"seven-bit"), Row(b=b"high\xc3\xa9")])
        schema = ts.Schema(ts.Key("b", ts.FromBytes("ascii")))
        rows = ts.apply_schema(df, schema).collect()
        assert rows[0]["b"] == "seven-bit"
        assert [e["code"] for e in rows[1]["errors"]] == ["cannot_be_decoded"]


# ---------------------------------------------------------------------------
# asof tie-break NULL consistency across strategies
# ---------------------------------------------------------------------------

class TestAsofTieBreakNulls:
    @pytest.fixture()
    def sides(self, spark):
        left = spark.createDataFrame([Row(k=1, ts=10.0, lx="L")])
        right = spark.createDataFrame(
            [Row(k=1, ts=20.0, tb=None, v="null_tb"),
             Row(k=1, ts=20.0, tb=5, v="tb5"),
             Row(k=1, ts=20.0, tb=9, v="tb9")],
            "k int, ts double, tb int, v string")
        return left, right

    @pytest.mark.parametrize("direction,expect", [
        ("forward", "tb5"),    # least non-null tie_break wins
    ])
    def test_strategies_agree(self, sides, direction, expect):
        left, right = sides
        got = {}
        for strat in ("sort", "broadcast"):
            r = asof_join(left, right, on="ts", by="k", direction=direction,
                          strategy=strat, tie_break="tb", suffix="_r")
            got[strat] = r.collect()[0]["v_r"]
        assert got["sort"] == got["broadcast"] == expect

    def test_backward_strategies_agree(self, spark):
        left = spark.createDataFrame([Row(k=1, ts=30.0, lx="L")])
        right = spark.createDataFrame(
            [Row(k=1, ts=20.0, tb=None, v="null_tb"),
             Row(k=1, ts=20.0, tb=5, v="tb5")],
            "k int, ts double, tb int, v string")
        for strat in ("sort", "broadcast"):
            r = asof_join(left, right, on="ts", by="k", direction="backward",
                          strategy=strat, tie_break="tb", suffix="_r")
            assert r.collect()[0]["v_r"] == "tb5", strat


# ---------------------------------------------------------------------------
# LSH bucket kernel: null/ragged masking + determinism
# ---------------------------------------------------------------------------

class TestLshBuckets:
    def test_null_and_ragged_mask(self, spark):
        df = spark.createDataFrame(
            [Row(vec_id=0, embedding=[1.0, 2.0, 3.0]),
             Row(vec_id=1, embedding=None),
             Row(vec_id=2, embedding=[1.0, 2.0]),
             Row(vec_id=3, embedding=[3.0, 2.0, 1.0])],
            "vec_id int, embedding array<double>").coalesce(1)
        out = {r["vec_id"]: r["b"] for r in df.select(
            "vec_id",
            similarity.lsh_band_buckets(F.col("embedding"), 4, 2, dim=3)
            .alias("b")).collect()}
        assert out[1] is None and out[2] is None
        assert out[0] is not None and len(out[0]) == 2
        assert out[3] is not None

    def test_deterministic_across_runs(self, spark):
        df = spark.range(50).select(
            F.col("id").alias("vec_id"),
            F.transform(F.sequence(F.lit(1), F.lit(8)),
                        lambda i: F.sin(i * (F.col("id") + 1)))
            .alias("embedding"))
        sel = df.select("vec_id", similarity.lsh_band_buckets(
            F.col("embedding"), 6, 4).alias("b"))
        assert sel.collect() == sel.collect()


# ---------------------------------------------------------------------------
# portable hashing: DuckDB bit-parity + ANSI neutrality
# ---------------------------------------------------------------------------

SAMPLES = ["abc", "hello world", "", "ünïcode ツ", "a b  c"]


class TestPortableHashing:
    def test_hash60_tok31_match_duckdb(self, spark):
        df = spark.createDataFrame([(s,) for s in SAMPLES], "s string")
        got = df.select("s", hash60(F.col("s")).alias("h"),
                        tok31(F.col("s")).alias("t")).collect()
        for r in got:
            d_h, d_t = duckdb.sql(
                f"SELECT CAST(concat('0x', substr(md5('{r['s']}'), 1, 15)) AS BIGINT),"
                f" {TOK31_DUCKDB.format(repr(r['s']))}").fetchone()
            assert r["h"] == d_h and r["t"] == d_t, r["s"]

    def test_fingerprint_matches_duckdb_and_is_ansi_safe(self, spark):
        df = spark.createDataFrame(
            [(i, s) for i, s in enumerate(SAMPLES)], "doc_id int, text string")
        for mode in (True, False):
            with ansi(spark, mode):
                rows = textstats.fingerprint(df, portable=True).collect()
                assert all(0 <= r["fingerprint"] < M31 for r in rows)
        tok = TOK31_DUCKDB.format("t")
        for r in rows:
            (d,) = duckdb.sql(rf"""
                SELECT list_reduce(list_prepend(CAST(0 AS BIGINT),
                         list_transform(string_split_regex(trim(regexp_replace(
                           lower('{r['text']}'), '[^\p{{L}}\p{{N}}]+', ' ', 'g')),
                           '\s+'), t -> {tok})),
                       (a, h) -> (a * 1000003 + h) % {M31})""").fetchone()
            assert r["fingerprint"] == d, r["text"]

    def test_tuple_short_array_ansi_safe(self, spark):
        # short arity must flag tuple_like, not throw INVALID_ARRAY_INDEX
        df = spark.createDataFrame(
            [Row(xs=[1, 2, 3]), Row(xs=[1])], "xs array<bigint>")
        schema = ts.Schema(ts.Key("xs", ts.Tuple(ts.Int(), ts.Int(), ts.Int())))
        for mode in (True, False):
            with ansi(spark, mode):
                rows = ts.apply_schema(df, schema).collect()
                assert rows[0]["errors"] == []
                assert [e["code"] for e in rows[1]["errors"]] == ["tuple_like"]

    def test_fast_path_ansi_safe(self, spark):
        docs = spark.createDataFrame(
            [(i, s) for i, s in enumerate(SAMPLES * 4)], "doc_id int, text string")
        with ansi(spark, True):
            # would raise ARITHMETIC_OVERFLOW on the round-1 arithmetic
            textstats.fingerprint(docs).collect()
            dedup.minhash_dedup(docs, threshold=0.3).collect()
            dedup.simhash_dedup(docs).collect()

    def test_portable_and_fast_find_same_near_dups(self, spark):
        docs = spark.createDataFrame(
            [Row(doc_id=0, text="the quick brown fox jumps over the lazy dog today"),
             Row(doc_id=1, text="the quick brown fox jumps over the lazy dog today!"),
             Row(doc_id=2, text="completely unrelated text about cooking pasta sauce")])
        fast = {(r["a"], r["b"]) for r in
                dedup.minhash_dedup(docs, threshold=0.5).collect()}
        port = {(r["a"], r["b"]) for r in
                dedup.minhash_dedup(docs, threshold=0.5, portable=True).collect()}
        assert fast == port == {(0, 1)}


# ---------------------------------------------------------------------------
# block-size caps on the quadratic paths
# ---------------------------------------------------------------------------

class TestBlockCaps:
    def test_ngram_jaccard_block_cap(self, spark):
        rows = ([Row(doc_id=i, text=f"hot block text {i}", grp="hot")
                 for i in range(10)] +
                [Row(doc_id=100, text="cool text a", grp="cool"),
                 Row(doc_id=101, text="cool text a", grp="cool")])
        df = spark.createDataFrame(rows)
        capped = dedup.ngram_jaccard_pairs(df, block_cols=["grp"],
                                           threshold=0.0, max_block_size=5)
        got = {(r["a"], r["b"]) for r in capped.collect()}
        assert got == {(100, 101)}  # hot block dropped entirely

    def test_cosine_neardup_block_cap(self, spark):
        rows = ([Row(vec_id=i, embedding=[1.0, float(i)], label=0)
                 for i in range(10)] +
                [Row(vec_id=100, embedding=[1.0, 1.0], label=1),
                 Row(vec_id=101, embedding=[1.0, 1.0], label=1)])
        df = spark.createDataFrame(rows)
        out = similarity.cosine_neardup(df, threshold=0.0,
                                        block_cols=["label"],
                                        max_block_size=5)
        got = {(r["a"], r["b"]) for r in out.collect()}
        assert got == {(100, 101)}


# ---------------------------------------------------------------------------
# IVF-flat ANN
# ---------------------------------------------------------------------------

class TestIvf:
    @pytest.fixture()
    def clustered(self, spark):
        # 4 well-separated clusters of 25 vectors each in 8-d
        import numpy as np
        rng = np.random.RandomState(3)
        centers = np.eye(4).repeat(2, axis=1) * 10          # 4 × 8
        rows = []
        for i in range(100):
            c = i % 4
            v = centers[c] + rng.randn(8) * 0.1
            rows.append(Row(vec_id=i, embedding=[float(x) for x in v]))
        return spark.createDataFrame(rows)

    def test_recall_vs_exact(self, clustered):
        q = clustered.filter(F.col("vec_id") < 4) \
            .select(F.col("vec_id").alias("query_id"), "embedding")
        exact = {(r["query_id"], r["vec_id"]) for r in
                 similarity.cosine_topk(clustered, q, k=5).collect()}
        approx = {(r["query_id"], r["vec_id"]) for r in
                  similarity.ivf_cosine_topk(clustered, q, k=5,
                                             n_centroids=8, nprobe=3).collect()}
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.8, recall

    def test_trained_centroids_path(self, clustered):
        cents = similarity.train_ivf_centroids(clustered, n_centroids=4,
                                               iters=5, sample_limit=100)
        assert cents.count() == 4
        q = clustered.filter(F.col("vec_id") < 2) \
            .select(F.col("vec_id").alias("query_id"), "embedding")
        out = similarity.ivf_cosine_topk(clustered, q, k=5,
                                         centroids=cents, nprobe=1)
        # with a trained codebook + tight clusters, nprobe=1 already gets
        # the same-cluster neighbors
        got = {r["query_id"]: r["rank"] for r in out.collect()}
        assert set(got) == {0, 1}

    def test_deterministic(self, clustered):
        q = clustered.filter(F.col("vec_id") < 2) \
            .select(F.col("vec_id").alias("query_id"), "embedding")
        a = similarity.ivf_cosine_topk(clustered, q, k=3).orderBy(
            "query_id", "rank").collect()
        b = similarity.ivf_cosine_topk(clustered, q, k=3).orderBy(
            "query_id", "rank").collect()
        assert a == b


# ---------------------------------------------------------------------------
# content-hash salting: retry-stable
# ---------------------------------------------------------------------------

class TestSaltStability:
    def test_salt_is_content_derived(self, spark):
        from trafaret_spark.partitioning import with_salt
        df = spark.range(100).select(
            F.col("id"), (F.col("id") % 7).alias("k"))
        a = with_salt(df, "k", buckets=8).orderBy("id").collect()
        b = with_salt(df.repartition(7), "k", buckets=8).orderBy("id").collect()
        # same rows → same salt regardless of physical layout
        assert [r["__salt"] for r in a] == [r["__salt"] for r in b]


# ---------------------------------------------------------------------------
# nearest as-of + connected components
# ---------------------------------------------------------------------------

class TestAsofNearest:
    def test_matches_pandas_merge_asof(self, spark):
        import numpy as np
        import pandas as pd
        rng = np.random.RandomState(5)
        lpd = pd.DataFrame({
            "k": rng.randint(0, 4, 60),
            "ts": np.sort(rng.uniform(0, 1000, 60)),
            "lid": np.arange(60)})
        rpd = pd.DataFrame({
            "k": rng.randint(0, 4, 40),
            "ts": np.sort(rng.uniform(0, 1000, 40)),
            "val": rng.uniform(0, 1, 40)})
        expect = pd.merge_asof(lpd.sort_values("ts"), rpd.sort_values("ts"),
                               on="ts", by="k", direction="nearest")
        left = spark.createDataFrame(lpd)
        right = spark.createDataFrame(rpd)
        for strat in ("sort", "broadcast"):
            got = asof_join(left, right, on="ts", by="k",
                            direction="nearest", suffix="_r",
                            strategy=strat).toPandas() \
                .sort_values("lid").reset_index(drop=True)
            exp = expect.sort_values("lid").reset_index(drop=True)
            assert np.allclose(got["val_r"].fillna(-1), exp["val"].fillna(-1),
                               atol=1e-9), strat

    def test_nearest_tolerance(self, spark):
        left = spark.createDataFrame([Row(k=1, ts=100.0, lid=0)])
        right = spark.createDataFrame([Row(k=1, ts=140.0, val="far"),
                                       Row(k=1, ts=10.0, val="farther")])
        out = asof_join(left, right, on="ts", by="k", direction="nearest",
                        tolerance=30.0, suffix="_r").collect()[0]
        assert out["val_r"] is None  # nearest (40 away) outside tolerance

    def test_nearest_rejects_strict_and_tiebreak(self, spark):
        left = spark.createDataFrame([Row(k=1, ts=1.0)])
        right = spark.createDataFrame([Row(k=1, ts=2.0, v=1)])
        with pytest.raises(ValueError):
            asof_join(left, right, on="ts", by="k", direction="nearest",
                      allow_exact_matches=False)
        with pytest.raises(ValueError):
            asof_join(left, right, on="ts", by="k", direction="nearest",
                      tie_break="v")


class TestConnectedComponents:
    def test_matches_union_find(self, spark):
        import random
        rng = random.Random(13)
        edges = sorted({tuple(sorted(rng.sample(range(40), 2)))
                        for _ in range(45)})
        parent = list(range(40))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        nodes = {n for e in edges for n in e}
        expect = {}
        for n in nodes:
            root = find(n)
            expect.setdefault(root, []).append(n)
        expect_label = {n: min(group) for group in expect.values()
                        for n in group}
        pairs = spark.createDataFrame(edges, "a int, b int")
        got = {r["node"]: r["component"] for r in
               dedup.connected_components(pairs).collect()}
        assert got == expect_label

    def test_chain_converges(self, spark):
        # worst-case diameter: a 30-node path graph
        pairs = spark.createDataFrame([(i, i + 1) for i in range(30)],
                                      "a int, b int")
        got = {r["node"]: r["component"] for r in
               dedup.connected_components(pairs, max_iter=40).collect()}
        assert set(got.values()) == {0} and len(got) == 31


# ---------------------------------------------------------------------------
# range join + time rollup
# ---------------------------------------------------------------------------

class TestRangeJoin:
    def test_bucketized_equals_naive(self, spark):
        import numpy as np
        from trafaret_spark.operators.rangejoin import range_join
        rng = np.random.RandomState(21)
        left = spark.createDataFrame(
            [(int(i), int(rng.randint(0, 3)), float(rng.uniform(0, 5000)))
             for i in range(200)], "lid long, k int, ts double")
        rows = []
        for j in range(60):
            s = float(rng.uniform(0, 5000))
            rows.append((int(j), int(rng.randint(0, 3)), s,
                         s + float(rng.uniform(1, 400))))
        right = spark.createDataFrame(rows, "rid long, k int, start double, end double")
        got = {(r["lid"], r["rid_r"]) for r in
               range_join(left, right, on="ts", by="k", bucket_width=100.0,
                          suffix="_r").collect()}
        naive = {(r["lid"], r["rid"]) for r in
                 left.join(right, (left["k"] == right["k"])
                           & (left["ts"] >= right["start"])
                           & (left["ts"] <= right["end"])).collect()}
        assert got == naive and len(naive) > 0

    def test_long_intervals_are_exact_not_truncated(self, spark):
        """An interval spanning more buckets than the cap must still match
        its full range (advice r2: the old cap silently dropped tail
        coverage) — it routes through the by-key long-interval path."""
        from trafaret_spark.operators.rangejoin import range_join
        left = spark.createDataFrame(
            [(1, 950.0), (2, 9999.0), (3, 10001.0)], "lid int, ts double")
        right = spark.createDataFrame([(7, 0.0, 10000.0)],
                                      "rid int, start double, end double")
        # cap 5 buckets × width 100 covers only [0, 500) in the bucketed
        # path — the long path must still produce the 950 and 9999 matches
        capped = range_join(left, right, on="ts", bucket_width=100.0,
                            max_buckets_per_interval=5, suffix="_r")
        assert {r["lid"] for r in capped.collect()} == {1, 2}
        full = range_join(left, right, on="ts", bucket_width=100.0,
                          suffix="_r")
        assert {r["lid"] for r in full.collect()} == {1, 2}

    def test_long_intervals_exact_with_by_keys(self, spark):
        from trafaret_spark.operators.rangejoin import range_join
        left = spark.createDataFrame(
            [(1, "a", 950.0), (2, "b", 950.0)], "lid int, k string, ts double")
        right = spark.createDataFrame([("a", 7, 0.0, 10000.0)],
                                      "k string, rid int, start double, end double")
        got = range_join(left, right, on="ts", by="k", bucket_width=100.0,
                         max_buckets_per_interval=5, suffix="_r").collect()
        assert [(r["lid"], r["rid_r"]) for r in got] == [(1, 7)]


class TestTimeRollup:
    def test_matches_groupby_oracle(self, spark):
        from trafaret_spark.operators import features
        ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        got = features.time_rollup(
            ev, ts="ts", every="1 day", by="event_type",
            aggs={"n": ("count", "*"), "vmax": ("max", "value")})
        oracle = (ev.groupBy("event_type", F.date_trunc("day", "ts").alias("bucket_start"))
                  .agg(F.count(F.lit(1)).alias("n"), F.max("value").alias("vmax")))
        a = {(r["event_type"], r["bucket_start"], r["n"], r["vmax"])
             for r in got.collect()}
        b = {(r["event_type"], r["bucket_start"], r["n"], r["vmax"])
             for r in oracle.collect()}
        assert a == b and len(a) > 0


class TestLineQualityFeatures:
    def test_line_shape_ratios(self, spark):
        doc = "intro line\n- bullet one\n- bullet two\nrepeat me\nrepeat me\ntrailing off...\n\n  \n"
        df = spark.createDataFrame([Row(doc_id=0, text=doc),
                                    Row(doc_id=1, text="no newlines here")])
        rows = {r["doc_id"]: r for r in
                textstats.quality_features(df).collect()}
        r0 = rows[0]
        # 6 non-blank lines; 'repeat me' twice -> 5 distinct -> dup 1/6
        assert abs(r0["dup_line_ratio"] - 1 / 6) < 1e-9
        assert abs(r0["bullet_line_ratio"] - 2 / 6) < 1e-9
        assert abs(r0["ellipsis_line_ratio"] - 1 / 6) < 1e-9
        r1 = rows[1]
        assert r1["dup_line_ratio"] == 0.0
        assert r1["bullet_line_ratio"] == 0.0


class TestWinnowing:
    def test_guarantee_shared_run_detected(self, spark):
        # winnowing guarantee: docs sharing >= k+w-1 consecutive tokens
        # share at least one selected fingerprint (k=3, w=4 -> run of 6)
        shared = "alpha beta gamma delta epsilon zeta"
        df = spark.createDataFrame([
            Row(doc_id=0, text=f"prefix one two {shared} suffix three"),
            Row(doc_id=1, text=f"totally different opening {shared} and ending"),
            Row(doc_id=2, text="nothing in common with the others at all here")])
        pairs = {(r["a"], r["b"]) for r in
                 dedup.winnow_dedup(df, k=3, w=4, min_shared=1).collect()}
        assert (0, 1) in pairs
        assert all(2 not in p for p in pairs)

    def test_fingerprint_set_is_subset_and_smaller(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=0, text=" ".join(f"tok{i % 37}" for i in range(200)))])
        row = df.select(
            dedup.winnow_fingerprints(F.col("text"), 3, 4).alias("fp"),
            dedup.shingle_hashes(F.col("text"), 3).alias("all_g")).collect()[0]
        assert set(row["fp"]) <= set(row["all_g"])
        assert 0 < len(row["fp"]) < len(row["all_g"])

    def test_portable_matches_fast_pairs(self, spark):
        df = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in enumerate(
                ["the quick brown fox jumps over the lazy dog today ok",
                 "the quick brown fox jumps over the lazy dog today fine",
                 "unrelated text about cooking pasta in rome yesterday"])])
        fast = {(r["a"], r["b"]) for r in
                dedup.winnow_dedup(df, k=3, w=2, min_shared=1).collect()}
        port = {(r["a"], r["b"]) for r in
                dedup.winnow_dedup(df, k=3, w=2, min_shared=1,
                                   portable=True).collect()}
        assert (0, 1) in fast and (0, 1) in port


class TestRegistryConsistency:
    """Single source of truth for the 'N/N oracle-checked' claim (r2
    verdict #10): the registry and the oracle map must agree key-for-key,
    so documentation counts can be generated, never hand-maintained."""

    def test_every_query_has_an_oracle_and_vice_versa(self):
        import __spark_entry__ as entry_mod
        qs, oracles = entry_mod.queries(), entry_mod.oracle_sql()
        assert set(qs) == set(oracles)
        assert len(qs) >= 73
