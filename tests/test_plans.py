"""Physical-plan regression tests: the plan properties the 100 TB design
depends on, asserted against `.explain` output so a refactor cannot silently
lose them (SURVEY.md §4.2).

Checked properties:
  * predicate pushdown + column pruning reach the parquet scan;
  * the validation stage stays 100% JVM-side (no BatchEvalPython /
    ArrowEvalPython) and inside whole-stage codegen;
  * the as-of join + feature windows share ONE exchange on the `by` key
    (the flagship pipeline shuffles the full table exactly once);
  * broadcast strategies actually broadcast (knn query side, asof B).
"""

import pytest
from pyspark.sql import functions as F

import trafaret_spark as ts
from trafaret_spark.operators import features, similarity
from trafaret_spark.operators.asof import asof_join
from trafaret_spark.pipeline import transcript_schema

SF_DIR = "/root/testdata/sf0.001"


def plan_of(df, mode="formatted") -> str:
    jvm = df.sparkSession._jvm
    jmode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    return df._jdf.queryExecution().explainString(jmode)


def executed_plan_of(df) -> str:
    """Final (post-AQE) physical plan — codegen markers only appear here."""
    df.write.format("noop").mode("overwrite").save()
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def events(spark):
    return spark.read.parquet(f"{SF_DIR}/events.parquet")


class TestScanPushdown:
    def test_filter_and_pruning_reach_parquet(self, events):
        q = (events.filter(F.col("event_type") == "purchase")
             .select("event_id", "value"))
        p = plan_of(q)
        assert "PushedFilters" in p
        assert "event_type" in p.split("PushedFilters")[1].splitlines()[0]
        read_schema = [ln for ln in p.splitlines() if "ReadSchema" in ln][0]
        assert "props" not in read_schema  # unused column pruned from scan

    def test_validation_does_not_break_pruning(self, events):
        schema = ts.Schema(ts.Key("event_id", ts.Int(gte=0)),
                           ts.Key("event_type", ts.Enum("purchase", "view")),
                           extras="ignore")
        q = ts.apply_schema(events, schema)
        read_schema = [ln for ln in plan_of(q).splitlines() if "ReadSchema" in ln][0]
        assert "props" not in read_schema and "ts" not in read_schema


class TestJvmOnly:
    def test_transcript_validation_no_python(self, spark, events):
        df = events.select(
            F.col("user_id").cast("string").alias("conv_id"),
            F.col("event_id").cast("string").alias("turn_idx"),
            F.lit("user").alias("role"), F.col("props").alias("text"),
            F.lit(None).cast("string").alias("tool"),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss").alias("ts"))
        q = ts.apply_schema(df, transcript_schema(raw_ts=True))
        p = executed_plan_of(q)
        assert "EvalPython" not in p  # no Python UDFs anywhere in the stage
        # '*(N)' prefixes = whole-stage-codegen'd nodes; the validation
        # Project must be inside a codegen stage, not interpreted
        assert p.lstrip().startswith("*(")

    def test_leaf_guard_schema_single_codegen_stage(self, spark, events):
        q = ts.apply_schema(events, ts.Schema(
            ts.Key("event_id", ts.Int(gte=0)),
            ts.Key("value", ts.ToFloat(gte=0.0)),
            extras="ignore"))
        p = executed_plan_of(q)
        # scan + project fuse into one codegen stage: no exchange, no HOFs
        assert "Exchange" not in p
        assert p.lstrip().startswith("*(1)") and "*(2)" not in p


class TestSingleExchangePipeline:
    def test_asof_plus_features_share_one_shuffle(self, spark, events):
        """The flagship chain must shuffle the big table ONCE: the as-of
        window partitions by user_id and the feature windows reuse that
        partitioning (only an extra sort, never a second exchange of the
        joined table)."""
        left = events.filter(F.col("event_type") == "view")
        right = events.filter(F.col("event_type") == "purchase") \
            .select("user_id", "ts", "value")
        joined = asof_join(left, right, on="ts", by="user_id", suffix="_r")
        out = (features.Features(by="user_id", order="event_id", ts="ts")
               .lag("value", 1).rolling("value", "avg", 3)
               .session_id(1800).apply(joined))
        p = plan_of(out, "simple")
        # exchanges: one hashpartitioning(user_id) for the union window; the
        # feature windows must NOT add another (same partitioning key)
        n_exchanges = p.count("Exchange hashpartitioning")
        assert n_exchanges == 1, f"expected 1 shuffle, plan has {n_exchanges}:\n{p}"

    def test_feature_stack_single_window_partitioning(self, spark, events):
        out = (features.Features(by="user_id", order="event_id", ts="ts")
               .lag("value", 1).rolling("value", "avg", 3)
               .rolling_time("value", "sum", 3600)
               .cum("value", "sum").session_id(1800)
               .backfill("props").apply(events))
        p = plan_of(out, "simple")
        assert p.count("Exchange hashpartitioning") == 1


class TestBroadcast:
    def test_knn_query_side_broadcast(self, spark):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
            .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        q = emb.filter(F.col("vec_id") < 3) \
            .select(F.col("vec_id").alias("query_id"), "embedding")
        out = similarity.cosine_topk(emb, q, k=5)
        assert "BroadcastNestedLoopJoin" in plan_of(out, "simple") or \
               "BroadcastExchange" in plan_of(out, "simple")

    def test_knn_two_phase_partial_topk(self, spark):
        """cosine_topk must reduce BEFORE the exchange (r2 verdict #9):
        map-side partial collect_list under the salted (query, salt) keys,
        and the final window limited by Spark's rank-limit pushdown — no
        full-corpus single-reducer rank."""
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
            .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        q = emb.filter(F.col("vec_id") < 3) \
            .select(F.col("vec_id").alias("query_id"), "embedding")
        plan = plan_of(similarity.cosine_topk(emb, q, k=5), "simple")
        assert "partial_collect_list" in plan
        assert plan.index("partial_collect_list") > plan.index("Exchange")
        # ^ plans print top-down: the Partial agg sits BELOW (after in
        # string order) its Exchange parent, i.e. upstream of the shuffle
        assert "WindowGroupLimit" in plan and "Partial" in plan

    def test_asof_broadcast_strategy(self, spark, events):
        left = events.filter(F.col("event_type") == "view")
        right = events.filter(F.col("event_type") == "purchase") \
            .select("user_id", "ts", "value")
        out = asof_join(left, right, on="ts", by="user_id",
                        suffix="_r", strategy="broadcast")
        assert "BroadcastExchange" in plan_of(out, "simple")

    def test_ivf_centroids_broadcast_corpus_not_cartesian(self, spark):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
            .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        q = emb.filter(F.col("vec_id") < 3) \
            .select(F.col("vec_id").alias("query_id"), "embedding")
        out = similarity.ivf_cosine_topk(emb, q, k=5, n_centroids=8, nprobe=2)
        plan = plan_of(out, "simple")
        # the corpus must never be a cartesian-product side
        assert "CartesianProduct" not in plan
        # The ONLY exchanges in the whole query are for the bounded-key
        # candidate join + final per-query top-k — never for assignment
        # (centroids are plan-time literals; r2 verdict "What's wrong" #1).
        assert plan.count("Exchange hashpartitioning") <= 2

    def test_ivf_assignment_is_exchange_free(self, spark):
        """Nearest-centroid assignment of the corpus is a pure scan-side
        projection: literal centroid array → transform/array_sort/explode.
        No Exchange, no Window, no Join may appear between the parquet scan
        and the assigned (id, vec, __cid) output."""
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
            .select("vec_id", F.col("embedding").cast("array<double>").alias("embedding"))
        cent = (emb.orderBy("vec_id").limit(8)
                .select(F.col("vec_id").cast("int").alias("__cid"),
                        F.col("embedding").alias("__cv")))
        assigned = similarity.assign_to_centroids(
            emb, similarity.centroid_literal(cent), "embedding", nprobe=1)
        plan = plan_of(assigned, "simple")
        assert "Exchange" not in plan
        assert "Window" not in plan
        assert "Join" not in plan


class TestRound4Plans:
    def test_email_default_path_stays_jvm(self, spark, events):
        """The r4 regex-parity rewrite must not move the default (non-idna)
        Email/URL guards out of codegen; only idna=True may add an
        ArrowEvalPython stage."""
        df = events.select(F.col("props").alias("addr"),
                           F.col("props").alias("url"))
        q = ts.apply_schema(df, ts.Schema(
            ts.Key("addr", ts.Email()), ts.Key("url", ts.URL())))
        p = executed_plan_of(q)
        assert "EvalPython" not in p
        q2 = ts.apply_schema(df, ts.Schema(
            ts.Key("addr", ts.Email(idna=True)),
            ts.Key("url", ts.URL(idna=True))))
        assert "ArrowEvalPython" in executed_plan_of(q2)

    def test_per_language_stopwords_stay_scan_side(self, spark):
        """quality_features(lang_col=...) is one scan-side projection:
        the per-language marker lookup must add no Exchange and no
        Python stage."""
        from trafaret_spark.operators import textstats
        docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        q = textstats.quality_features(docs, lang_col="lang") \
            .select("doc_id", "stopword_ratio")
        p = plan_of(q, "simple")
        assert "Exchange" not in p
        assert "EvalPython" not in executed_plan_of(q)


class TestRound4NewOpPlans:
    def test_pool_embeddings_partial_agg_before_exchange(self, spark):
        emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet") \
            .withColumn("grp", F.pmod("vec_id", F.lit(8)))
        out = similarity.pool_embeddings(emb, "grp")
        p = plan_of(out)
        # no Python anywhere; the per-(grp,pos) sum must have a partial
        # (map-side) HashAggregate below its exchange so the shuffle
        # carries groups x dim combined rows, not the exploded data
        assert "EvalPython" not in p
        assert "partial_sum" in p

    def test_neardup_conversations_no_python_render_once(self, spark):
        from trafaret_spark.operators.conversations import (
            neardup_conversations)
        ev = spark.read.parquet(f"{SF_DIR}/events.parquet")
        t = ev.select(F.col("user_id").cast("string").alias("conv_id"),
                      F.col("event_id").alias("turn_idx"),
                      F.lit("user").alias("role"),
                      F.col("props").alias("text"))
        out = neardup_conversations(t, threshold=0.5)
        p = plan_of(out)
        assert "EvalPython" not in p


class TestPairKernelPlans:
    @pytest.fixture()
    def emb(self, spark):
        return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").select(
            "vec_id",
            F.col("embedding").cast("array<double>").alias("embedding"))

    def test_semantic_dedup_pair_stage_one_arrow_group(self, emb):
        """semantic_dedup's blocked pair stage (its cluster_assign +
        cosine_neardup call) verifies in exactly one grouped Arrow node
        and never round-trips through pandas."""
        label = "__semdedup_cluster"
        assigned = similarity.cluster_assign(emb, n_centroids=8,
                                             out_col=label)
        pairs = similarity.cosine_neardup(
            assigned, threshold=0.9, block_cols=[label],
            max_block_size=10_000, on_drop="ignore")
        p = executed_plan_of(pairs)
        final = p.split("== Initial Plan ==")[0]   # AQE echoes both
        assert final.count("FlatMapGroupsInArrow") == 1, final
        assert "FlatMapGroupsInPandas" not in p, p

    def test_attach_fused_cosine_one_arrow_eval(self, emb):
        a = emb.limit(20).select(
            F.col("vec_id").alias("a"), F.col("embedding").alias("__va"),
            similarity.l2_norm(F.col("embedding")).alias("__na"))
        b = emb.limit(20).select(
            F.col("vec_id").alias("b"), F.col("embedding").alias("__vb"),
            similarity.l2_norm(F.col("embedding")).alias("__nb"))
        out = similarity.attach_fused_cosine(a.crossJoin(b), "__va", "__vb",
                                             "__na", "__nb")
        final = executed_plan_of(out).split("== Initial Plan ==")[0]
        assert final.count("ArrowEvalPython") == 1, final
