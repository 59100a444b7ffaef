"""The benchmark's workloads. Each one

* builds its inputs from ``trafaret_spark.datagen`` and a seed, and writes
  them to parquet (set-up), so the job only ever reads generated files;
* runs one job through the engine's public entry point into a fresh
  output directory;
* checks the job's output: the job's own audit invariants plus an
  order-independent digest of every output table;
* for the traced run, re-runs the job's layers one public call at a time,
  each span wrapping the action that materialises that layer's output.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

import trafaret_spark as ts
from trafaret_spark import datagen
from trafaret_spark import io as tio

from probes import read_table, sink, table_digest, table_size

N_BUCKETS = 8  # output table buckets, the same for every workload


def _count_rows(path: str) -> int:
    import pyarrow.dataset as pads
    return pads.dataset(path, format="parquet").count_rows()


class Workload:
    name: str
    tables = ("out",)  # output tables, digested and sized by every check
    gap: str           # what the traced layers leave out of the real job
    measures_scaling = False  # the traced run also times one local[1] job

    def __init__(self, seed: int):
        self.seed = seed

    def make_inputs(self, spark, d: str) -> int:
        """Write the inputs under ``d``; return the input row count."""
        raise NotImplementedError

    def run_job(self, spark, d_in: str, d_out: str) -> dict:
        raise NotImplementedError

    def invariants(self, n_input: int, summary: dict, tables: dict) -> list:
        """Problems found in one job's output; empty when it is right."""
        raise NotImplementedError

    def check(self, n_input: int, d_out: str, summary: dict):
        """(digests, problems, bytes written) of one job run."""
        tables = {t: read_table(os.path.join(d_out, t)) for t in self.tables}
        digests = {t: table_digest(tab) for t, tab in tables.items()}
        nbytes = sum(table_size(os.path.join(d_out, t))[0]
                     for t in self.tables)
        return digests, self.invariants(n_input, summary, tables), nbytes

    def trace(self, spark, tr, d_in: str, d_out: str) -> dict:
        """Run the job's layers under ``tr`` spans into ``d_out``; return
        the workload's own per-layer metrics (the caller adds the io, job
        count and trace totals)."""
        raise NotImplementedError


def _rows(table) -> int:
    return 0 if table is None else table.num_rows


class IngestDirty(Workload):
    """``pipeline.run_pipeline`` over all-string transcripts with injected
    defects and hot conversations, plus the as-of event stream."""

    name = "ingest_dirty"
    tables = ("out", "quarantine")
    gap = ("per-action planning, manifest stamps and summary reads on the "
           "driver, and the shared validated cache the layers re-scan")
    measures_scaling = True
    # many short conversations plus two hot ones: the input row count
    # varies by under 1% across seeds
    n_convs, max_turns, hot_turns = 3000, 30, 3000

    def make_inputs(self, spark, d):
        tr = datagen.transcripts(spark, n_convs=self.n_convs, seed=self.seed,
                                 max_turns=self.max_turns,
                                 hot_turns=self.hot_turns)
        datagen.to_raw_strings(tr, seed=self.seed).write.parquet(
            os.path.join(d, "raw"))
        datagen.conv_events(spark, n_convs=self.n_convs,
                            seed=self.seed).write.parquet(
            os.path.join(d, "events"))
        return _count_rows(os.path.join(d, "raw"))

    def _cfg(self, d_out):
        from trafaret_spark.pipeline import PipelineConfig
        return PipelineConfig(output_path=os.path.join(d_out, "out"),
                              quarantine_path=os.path.join(d_out, "quarantine"),
                              manifest_dir=os.path.join(d_out, "manifest"),
                              n_buckets=N_BUCKETS)

    def run_job(self, spark, d_in, d_out):
        from trafaret_spark.pipeline import run_pipeline
        return run_pipeline(spark, spark.read.parquet(os.path.join(d_in, "raw")),
                            spark.read.parquet(os.path.join(d_in, "events")),
                            self._cfg(d_out))

    def invariants(self, n_input, s, tables):
        probs = []
        if not s["n_valid"] + s["n_quarantined"] == s["n_rows"] == n_input:
            probs.append(f"manifest n_valid {s['n_valid']} + n_quarantined "
                         f"{s['n_quarantined']} vs n_rows {s['n_rows']} vs "
                         f"input turns {n_input}")
        if s["buckets_done"] != N_BUCKETS:
            probs.append(f"{s['buckets_done']} of {N_BUCKETS} buckets stamped")
        if _rows(tables["out"]) != s["n_valid"]:
            probs.append(f"output rows {_rows(tables['out'])} "
                         f"!= n_valid {s['n_valid']}")
        if _rows(tables["quarantine"]) != s["n_quarantined"]:
            probs.append(f"quarantine rows {_rows(tables['quarantine'])} "
                         f"!= n_quarantined {s['n_quarantined']}")
        return probs

    def trace(self, spark, tr, d_in, d_out):
        from trafaret_spark.checkpoint import Manifest, bucket_metrics
        from trafaret_spark.operators.asof import asof_join
        # the pipeline's own feature set, so the trace follows it
        from trafaret_spark.pipeline import _features, transcript_schema
        cfg = self._cfg(d_out)
        raw = spark.read.parquet(os.path.join(d_in, "raw"))
        events = spark.read.parquet(os.path.join(d_in, "events"))
        with tr.span("io.scan"):
            sink(raw)
        # run_pipeline persists the validated frame; every later branch
        # reads it from cache, so their spans have no base
        validated = tio.add_bucket(
            ts.apply_schema(raw, transcript_schema(raw_ts=True)),
            "conv_id", cfg.n_buckets).persist()
        try:
            with tr.span("validate", base="io.scan"):
                sink(validated)
            with tr.span("checkpoint.metrics"):
                Manifest(cfg.manifest_dir, cfg.n_buckets).stamp_from_metrics_df(
                    bucket_metrics(validated), {"app_id": "perfbench"})
            valid, quarantine = ts.split_valid(validated)
            enriched = (valid.withColumn("text_len", F.length("text"))
                        .withColumn("is_tool_turn",
                                    (F.col("role") == "tool").cast("int")))
            asofed = asof_join(enriched, events, on="ts", by="conv_id",
                               direction="backward",
                               tolerance=cfg.asof_tolerance_s)
            with tr.span("asof"):
                sink(asofed)
            featurized = _features().apply(asofed)
            with tr.span("features", base="asof"):
                sink(featurized)
            out = featurized.repartitionByRange(
                spark.sparkContext.defaultParallelism,
                "conv_id", "turn_idx").sortWithinPartitions("conv_id",
                                                            "turn_idx")
            with tr.span("io.write", base="features"):
                tio.write_bucketed(out, cfg.output_path, key="conv_id",
                                   n_buckets=cfg.n_buckets)
            with tr.span("io.write_quarantine"):
                tio.write_bucketed(quarantine.withColumn(
                    "errors", F.to_json("errors")), cfg.quarantine_path,
                    key="conv_id", n_buckets=cfg.n_buckets)
        finally:
            validated.unpersist()

        m = Manifest(cfg.manifest_dir, cfg.n_buckets)
        codes: dict = {}
        for b in m.done_buckets():
            for code, n in (m.read(b)["metrics"]["error_codes"] or {}).items():
                codes[code] = codes.get(code, 0) + n
        out_t = read_table(cfg.output_path)
        matched = out_t.column("score").null_count if out_t is not None else 0
        return {
            "validate.rows_quarantined": m.summary()["n_quarantined"],
            **{f"validate.errors.{c}": n for c, n in codes.items()},
            "asof.match_frac": (1.0 - matched / out_t.num_rows)
            if out_t is not None and out_t.num_rows else 0.0,
            "validate.self_s": tr.self_s("validate"),
            "asof.self_s": tr.self_s("asof"),
            "features.self_s": tr.self_s("features"),
            "checkpoint.metrics_s": tr.self_s("checkpoint.metrics"),
        }


class CurateClones(Workload):
    """``curation_pipeline.run_curation`` over clone transcripts, with
    near-dup and truncation on and the exact per-stage audit."""

    name = "curate_clones"
    tables = ("out", "quarantine")
    gap = ("per-action planning, the inter-stage persists' cache writes "
           "and the audit's driver collects")
    n_convs, max_tokens = 1500, 400

    def make_inputs(self, spark, d):
        datagen.clone_transcripts(spark, n_convs=self.n_convs,
                                  seed=self.seed).write.parquet(
            os.path.join(d, "turns"))
        return _count_rows(os.path.join(d, "turns"))

    def _cfg(self, d_out, audit="exact"):
        from trafaret_spark.curation_pipeline import CurationConfig
        return CurationConfig(output_path=os.path.join(d_out, "out"),
                              quarantine_path=os.path.join(d_out, "quarantine"),
                              max_tokens=self.max_tokens, audit=audit,
                              n_buckets=N_BUCKETS)

    def run_job(self, spark, d_in, d_out, audit="exact"):
        from trafaret_spark.curation_pipeline import run_curation
        return run_curation(spark,
                            spark.read.parquet(os.path.join(d_in, "turns")),
                            self._cfg(d_out, audit))

    def invariants(self, n_input, audit, tables):
        probs = []
        stages = list(audit["stages"].items())
        if stages[0][1]["turns"] != n_input:
            probs.append(f"audit input turns {stages[0][1]['turns']} "
                         f"!= input rows {n_input}")
        for (pn, p), (sn, s) in zip(stages, stages[1:]):
            for k in ("turns", "conversations"):
                if s[k] > p[k]:
                    probs.append(f"{k} grew from {pn} {p[k]} to {sn} {s[k]}")
        out = tables["out"]
        final = audit["final"]
        if _rows(out) != final["turns"]:
            probs.append(f"output rows {_rows(out)} != final turns "
                         f"{final['turns']}")
        n_conv = 0 if out is None else len(set(out.column("conv_id")
                                               .to_pylist()))
        if n_conv != final["conversations"]:
            probs.append(f"output conversations {n_conv} != final "
                         f"{final['conversations']}")
        n_bad = (audit["stages"]["stutter"]["turns"]
                 - audit["stages"]["structural"]["turns"])
        if _rows(tables["quarantine"]) != n_bad:
            probs.append(f"quarantine rows {_rows(tables['quarantine'])} "
                         f"!= structural drop {n_bad}")
        return probs

    def trace(self, spark, tr, d_in, d_out):
        from trafaret_spark.operators.conversations import (
            conversation_report, dedup_conversations, dedup_stutter,
            neardup_conversations, truncate_turns)
        from trafaret_spark.operators.textstats import token_count
        cfg = self._cfg(d_out)
        keys = dict(by=cfg.by, order=cfg.order, role_col=cfg.role_col,
                    text_col=cfg.text_col)
        turns = spark.read.parquet(os.path.join(d_in, "turns"))
        with tr.span("io.scan"):
            sink(turns)
        # run_curation persists every stage's output, so each stage's span
        # reads its input from cache and has no base
        held = []

        def stage(name, df):
            held.append(df.persist())
            with tr.span(name):
                sink(df)
            return df

        drops: dict = {}
        try:
            t = stage("conversations.stutter", dedup_stutter(turns, **keys))
            rep = conversation_report(t, by=cfg.by, order=cfg.order,
                                      role_col=cfg.role_col, ts_col=cfg.ts_col,
                                      dense_from=None)
            bad = rep.filter(~F.col("is_valid")).select(cfg.by).persist()
            held.append(bad)
            with tr.span("io.write_quarantine"):
                tio.write_bucketed(t.join(bad, [cfg.by], "left_semi"),
                                   cfg.quarantine_path, key=cfg.by,
                                   n_buckets=cfg.n_buckets)
            t = stage("conversations.structural",
                      t.join(bad, [cfg.by], "left_anti"))
            t = stage("conversations.exact_dedup",
                      dedup_conversations(t, **keys))
            with tr.span("conversations.neardup"):
                # the call itself runs the component loop's jobs
                nd = neardup_conversations(
                    t, **keys, threshold=cfg.neardup_threshold,
                    max_bucket_size=cfg.neardup_max_bucket_size,
                    portable=cfg.portable, on_drop=cfg.neardup_on_drop,
                    drop_stats=drops).persist()
                held.append(nd)
                sink(nd)
            tok = "__n_tokens"
            t = stage("conversations.truncate", truncate_turns(
                nd.withColumn(tok, token_count(F.col(cfg.text_col))
                              .cast("long")),
                cfg.max_tokens, by=cfg.by, order=cfg.order,
                token_col=tok).drop(tok))
            with tr.span("io.write"):
                tio.write_bucketed(t, cfg.output_path, key=cfg.by,
                                   n_buckets=cfg.n_buckets)
        finally:
            for df in held:
                df.unpersist()
        # the audit's cost: the same job with the count jobs switched off
        for i in range(2):
            with tr.span("curation.audit_off"):
                self.run_job(spark, d_in, os.path.join(d_out, f"off{i}"),
                             audit="off")
        return {"dedup.neardup_dropped_rows": drops.get("dropped_rows", 0),
                **{f"{s}_s": tr.self_s(s) for s in (
                    "conversations.stutter", "conversations.structural",
                    "conversations.exact_dedup", "conversations.neardup",
                    "conversations.truncate")}}


class SemDedupF64(Workload):
    """``similarity.semantic_dedup`` plus ``io.write_bucketed`` over
    clustered embeddings cast to ``array<double>``, the dtype that takes
    the grouped Arrow pair kernel."""

    name = "semdedup_f64"
    gap = ("per-action planning and the prefix the pair stage and the "
           "component loop recompute")
    # two vectors per generated cluster, 0.05 jitter: most vectors have
    # exactly one near-duplicate, the SemDeDup shape
    n_vecs, n_clusters, noise = 2000, 1000, 0.05
    n_centroids, threshold = 16, 0.95

    def make_inputs(self, spark, d):
        datagen.embeddings(spark, n_vecs=self.n_vecs, seed=self.seed,
                           n_clusters=self.n_clusters, noise=self.noise
                           ).write.parquet(os.path.join(d, "emb"))
        return _count_rows(os.path.join(d, "emb"))

    def _read(self, spark, d_in):
        return spark.read.parquet(os.path.join(d_in, "emb")).withColumn(
            "embedding", F.col("embedding").cast("array<double>"))

    def run_job(self, spark, d_in, d_out):
        from trafaret_spark.operators.similarity import semantic_dedup
        out = semantic_dedup(self._read(spark, d_in),
                             n_centroids=self.n_centroids,
                             threshold=self.threshold)
        tio.write_bucketed(out, os.path.join(d_out, "out"), key="vec_id",
                           n_buckets=N_BUCKETS)
        return {}

    def invariants(self, n_input, summary, tables):
        out = tables["out"]
        ids = [] if out is None else out.column("vec_id").to_pylist()
        probs = []
        if not 0 < len(ids) <= n_input:
            probs.append(f"{len(ids)} rows out of {n_input} in")
        if len(set(ids)) != len(ids):
            probs.append("duplicate vec_id in output")
        return probs

    def trace(self, spark, tr, d_in, d_out):
        from trafaret_spark.operators.dedup import keep_canonical
        from trafaret_spark.operators.similarity import (cluster_assign,
                                                         cosine_neardup)
        df = self._read(spark, d_in)
        label = "__semdedup_cluster"
        with tr.span("io.scan"):
            sink(df)
        # semantic_dedup's three calls with its own defaults; nothing is
        # persisted, so each span recomputes its predecessor's prefix.
        # Both similarity calls run Spark jobs as soon as they are called
        # (the centroid collect, the block-size cap's count), so the calls
        # sit inside their spans
        with tr.span("similarity.assign", base="io.scan"):
            assigned = cluster_assign(df, n_centroids=self.n_centroids,
                                      out_col=label)
            sizes = [r["count"] for r in
                     assigned.groupBy(label).count().collect()]
        with tr.span("similarity.pairs", base="similarity.assign"):
            pairs = cosine_neardup(assigned, threshold=self.threshold,
                                   block_cols=[label], max_block_size=10_000)
            n_pairs = pairs.count()
        # the kept rows are cached only so that the write span times the
        # write alone
        with tr.span("dedup.canonical", base="similarity.pairs"):
            kept = keep_canonical(df, pairs, id_col="vec_id").persist()
            sink(kept)
        try:
            with tr.span("io.write"):
                tio.write_bucketed(kept, os.path.join(d_out, "out"),
                                   key="vec_id", n_buckets=N_BUCKETS)
        finally:
            kept.unpersist()
        block_pairs = sum(b * (b - 1) // 2 for b in sizes)
        return {"similarity.block_pairs": block_pairs,
                "similarity.pair_yield": n_pairs / block_pairs
                if block_pairs else 0.0,
                "similarity.assign_s": tr.self_s("similarity.assign"),
                "similarity.pairs_s": tr.self_s("similarity.pairs"),
                "dedup.canonical_s": tr.self_s("dedup.canonical")}


class SemDedupF32(SemDedupF64):
    """The same job on the stored ``array<float>`` vectors, as
    ``jobs/run_semantic_dedup.py`` reads them: the pair stage takes the JVM
    higher-order-function expression path instead of the Arrow kernel."""

    name = "semdedup_f32"

    def _read(self, spark, d_in):
        return spark.read.parquet(os.path.join(d_in, "emb"))


# gated workloads are the ones BENCHMARK.json lists; the others run with
# the same command for per-layer work on their layers
WORKLOADS = {w.name: w for w in (IngestDirty, CurateClones, SemDedupF64,
                                 SemDedupF32)}
