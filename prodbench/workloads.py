"""The three product-path workloads: inputs, one op each, traced
variants and output checks.

Every op drives only the product's public API, exactly as
``scripts/run_pipeline.py`` composes it:

* ``wide_vocab_build``       FeaturePipeline fit → transform → split → write
* ``skewed_resumable_build`` the same job through CheckpointedRun.run
* ``append_refresh``         snaptable.append of small deltas, then
                             incremental_snapshot_update with the loaded
                             vocabulary → write

The traced variants call the layers one by one (vocab, vectorize,
sessionize, asof_merge, the last-turn join, split, write — the order of
FeaturePipeline.transform), persist and count each boundary inside a
span, and must give the same output digest as the untraced op.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import time
from dataclasses import dataclass

import pyarrow as pa
from pyspark import StorageLevel
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gen import GenSpec, anchor_count, delta_batches, generate, write_files
from sqlfeatureextraction_spark.checkpoint import CheckpointedRun
from sqlfeatureextraction_spark.config import FeatureConfig
from sqlfeatureextraction_spark.layout import window_vector_width
from sqlfeatureextraction_spark.operators.asof_merge import window_features_merge
from sqlfeatureextraction_spark.operators.incremental import (
    incremental_snapshot_update,
    incremental_update,
)
from sqlfeatureextraction_spark.operators.sessionize import sessionize
from sqlfeatureextraction_spark.operators.vectorize import with_turn_features
from sqlfeatureextraction_spark.plans.pipeline import FeaturePipeline
from sqlfeatureextraction_spark.sources import snaptable
from sqlfeatureextraction_spark.vocab import Vocabulary, fit_vocabulary

MAX_TOKENS = 4096  # run_pipeline.py --max-tokens default
# CheckpointedRun pays a few seconds of fixed Spark work per bucket
# whatever the data size (16 buckets: ~37 s per op on a 4-core host), so
# the 16 buckets run_pipeline.py ships do not fit a run; 2 buckets keep
# the per-bucket loop and its single-task stages in the measurement.
N_BUCKETS = 2
# deltas of append_refresh: ~2% of conversations, uniformly, in 3
# batches of 2 late turns per touched conversation
TOUCH_SHARE, DELTA_BATCHES, DELTA_TURNS = 0.02, 3, 2


@dataclass(frozen=True)
class Workload:
    name: str
    kind: str  # "build" | "checkpoint" | "refresh"
    spec: GenSpec
    cfg: FeatureConfig


WORKLOADS = {
    w.name: w
    for w in (
        # long Zipf texts over ~6k tokens, sparse timelines (mean gap 4
        # windows), no hot conversation: the vocabulary fit and the Arrow
        # encoder of 4k-token vectors do most of the work
        Workload(
            "wide_vocab_build",
            "build",
            GenSpec(n_convs=150, turns_mean=4, tokens_mean=32,
                    vocab_size=6000, zipf_s=1.05, oov_share=0.02,
                    gap_window_ratio=4.0, hot_share=0.0),
            FeatureConfig(),
        ),
        # short texts, 60-token vocabulary, dense timelines (mean gap 1/20
        # window ⇒ ~20 members per window), one conversation holding 60%
        # of the ~10k rows: window merge, salting and the per-bucket
        # checkpoint loop take the largest shares (LAYERS.md)
        Workload(
            "skewed_resumable_build",
            "checkpoint",
            GenSpec(n_convs=400, turns_mean=10, tokens_mean=3,
                    vocab_size=60, zipf_s=1.1, oov_share=0.0,
                    gap_window_ratio=0.05, hot_share=0.6),
            # the hot conversation (~6k rows) must exceed the per-salt row
            # budget for _salted to split it (into 3); the 65536 default
            # would need a 65k-turn conversation (about a minute per op)
            FeatureConfig(merge_rows_per_bucket=2048),
        ),
        # deltas touching 2% of 400 conversations: snapshot commits and
        # the entity-pruned recompute, through the same encoder and
        # window layers, with no fit
        Workload(
            "append_refresh",
            "refresh",
            GenSpec(n_convs=400, turns_mean=5, tokens_mean=10,
                    vocab_size=1000, zipf_s=1.05, oov_share=0.01,
                    gap_window_ratio=1.0, hot_share=0.0),
            FeatureConfig(),
        ),
    )
}


def materialize(df: DataFrame) -> tuple[DataFrame, int]:
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    return df, df.count()


P1, P2 = 2147483647, 2147483629


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
        if f.endswith(".parquet")
    )


class Bench:
    """One workload at one seed, inside `work` (a scratch directory)."""

    def __init__(self, spark, wl: Workload, seed: int, work: str, tracer=None):
        self.spark, self.wl, self.seed, self.work = spark, wl, seed, work
        self.tracer = tracer
        self.inputs = os.path.join(work, "inputs")
        self.out = os.path.join(work, "out")
        self.ckpt = os.path.join(work, "ckpt")
        self.table = os.path.join(work, "snaptable")

    # ------------------------------------------------------------- inputs

    def generate(self) -> None:
        """Write the seeded inputs; remember what the checks need."""
        spec = self.wl.spec
        base = generate(spec, self.seed)
        write_files(base, os.path.join(self.inputs, "base"), spec.n_files)
        tables = [base]
        self.delta_files: list[str] = []
        if self.wl.kind == "refresh":
            deltas = delta_batches(base, spec, self.seed, TOUCH_SHARE,
                                   DELTA_BATCHES, DELTA_TURNS)
            for i, d in enumerate(deltas):
                self.delta_files += write_files(
                    d, os.path.join(self.inputs, f"delta{i}"), 1)
            tables += deltas
            self.touched_convs = len(
                set(pa.concat_tables(deltas).column("conv_id").to_pylist()))
        self.n_convs = spec.n_convs
        self.n_turns = sum(t.num_rows for t in tables)
        self.expected_anchors = anchor_count(tables)

    def load(self) -> int:
        """Input load (part of set-up): open the generated files and
        scan them once."""
        self.tx = self.spark.read.parquet(os.path.join(self.inputs, "base"))
        return self.tx.count()

    def build_base(self) -> None:
        """append_refresh set-up: snapshot table, vocabulary, base
        feature table."""
        shutil.rmtree(self.table, ignore_errors=True)
        self.base_sid = snaptable.append(self.tx, self.table)
        pipe = FeaturePipeline(self.wl.cfg).fit(
            snaptable.read(self.spark, self.table), max_tokens=MAX_TOKENS)
        self.vocab_dir = os.path.join(self.work, "vocab")
        pipe.vocab.to_df(self.spark).write.mode("overwrite").parquet(self.vocab_dir)
        self.base_out = os.path.join(self.work, "base_features")
        feats = pipe.transform(snaptable.read(self.spark, self.table))
        pipe.write(pipe.split(feats), self.base_out)
        self.layout = pipe.layout

    # ---------------------------------------------------------------- ops

    def reset(self) -> None:
        """Untimed: every op starts from the same state."""
        self.spark.catalog.clearCache()
        for d in (self.out, self.ckpt):
            shutil.rmtree(d, ignore_errors=True)
        if self.wl.kind == "refresh" and snaptable.current_snapshot_id(self.table) != self.base_sid:
            snaptable.rollback(self.table, self.base_sid)

    def op(self) -> dict:
        """One untraced op; returns its timings (seconds)."""
        wl, spark = self.wl, self.spark
        if wl.kind == "refresh":
            t0 = time.perf_counter()
            for f in self.delta_files:
                snaptable.append(spark.read.parquet(f), self.table)
            t1 = time.perf_counter()
            pipe = self._loaded_pipeline()
            feats = incremental_snapshot_update(
                spark, self.table, self.base_sid,
                spark.read.parquet(self.base_out),
                lambda part: pipe.split(pipe.transform(part)),
            )
            pipe.write(feats, self.out)
            t2 = time.perf_counter()
            return {"op_s": t2 - t0, "append_s": t1 - t0, "refresh_s": t2 - t1}
        t0 = time.perf_counter()
        pipe = FeaturePipeline(wl.cfg).fit(self.tx, max_tokens=MAX_TOKENS)
        if wl.kind == "checkpoint":
            run = CheckpointedRun(self.ckpt, n_buckets=N_BUCKETS,
                                  snapshot_id=str(self.seed))
            run.run(self.tx, lambda part: pipe.split(pipe.transform(part)))
            feats = run.read_output(spark)
        else:
            feats = pipe.split(pipe.transform(self.tx))
        pipe.write(feats, self.out)
        self.layout = pipe.layout
        return {"op_s": time.perf_counter() - t0}

    def _loaded_pipeline(self) -> FeaturePipeline:
        pipe = FeaturePipeline(self.wl.cfg)
        pipe.vocab = Vocabulary.from_df(self.spark.read.parquet(self.vocab_dir))
        pipe.layout = pipe.vocab.layout(n_grans=len(self.wl.cfg.granularities_s))
        return pipe

    # ------------------------------------------------------------- traced

    def traced_op(self) -> dict:
        """The same op with every layer call in its own span and every
        layer boundary materialized."""
        T, wl, spark = self.tracer, self.wl, self.spark
        self.recomputed_rows = 0
        t0 = time.perf_counter()
        if wl.kind == "refresh":
            for f in self.delta_files:
                with T.span("snaptable.append"):
                    snaptable.append(spark.read.parquet(f), self.table)
            with T.span("vocab.load"):
                pipe = self._loaded_pipeline()
            with T.span("incremental.refresh"):
                # the body of incremental_snapshot_update, with its two
                # snapshot reads in their own span
                with T.span("snaptable.read"):
                    turns_all = snaptable.read(spark, self.table)
                    turns_new = snaptable.incremental_read(
                        spark, self.table, self.base_sid)
                    self.data_files = len(snaptable.planned_files(self.table))
                feats = incremental_update(
                    turns_all, turns_new, spark.read.parquet(self.base_out),
                    lambda part: self._traced_compute(pipe, part),
                )
        else:
            with T.span("vocab.fit"):
                pipe = FeaturePipeline(wl.cfg)
                pipe.vocab = fit_vocabulary(self.tx, max_tokens=MAX_TOKENS)
                pipe.layout = pipe.vocab.layout(n_grans=len(wl.cfg.granularities_s))
            if wl.kind == "checkpoint":
                with T.span("checkpoint.run"):
                    run = CheckpointedRun(self.ckpt, n_buckets=N_BUCKETS,
                                          snapshot_id=str(self.seed))
                    run.run(self.tx, lambda part: self._traced_compute(pipe, part))
                    feats = run.read_output(spark)
            else:
                feats = self._traced_compute(pipe, self.tx)
        with T.span("pipeline.write"):
            pipe.write(feats, self.out)
        self.layout = pipe.layout
        self.vocab_size = len(pipe.vocab.tokens)
        return {"op_s": time.perf_counter() - t0}

    def _traced_compute(self, pipe: FeaturePipeline, part: DataFrame) -> DataFrame:
        """FeaturePipeline.transform + split, one layer per span."""
        T, cfg = self.tracer, self.wl.cfg
        with T.span("vectorize.encode"):
            vec, layout = with_turn_features(part, pipe.vocab, cfg)
            vec, n = materialize(vec)
            self.recomputed_rows += n
        with T.span("sessionize"):
            sess, _ = materialize(sessionize(vec, gap_s=cfg.session_gap_s))
        with T.span("asof_merge.window"):
            wf, _ = materialize(window_features_merge(sess, pipe.vocab, cfg, layout))
        with T.span("pipeline.join"):
            last = sess.groupBy("conv_id", "ts_sec").agg(
                F.max_by("features", "turn_idx").alias("features"),
                F.max_by("session_id", "turn_idx").alias("session_id"),
                F.max("turn_idx").alias("turn_idx"),
            )
            joined, _ = materialize(last.join(wf, ["conv_id", "ts_sec"]))
        return pipe.split(joined)

    # ------------------------------------------------------------- checks

    def rebuild_digest(self) -> str:
        """append_refresh reference: a full rebuild of the refreshed
        snapshot with the same vocabulary (run once, untimed, while the
        table is at the refreshed snapshot)."""
        pipe = self._loaded_pipeline()
        feats = pipe.transform(snaptable.read(self.spark, self.table))
        d, _ = self.check(pipe.split(feats))
        self.spark.catalog.clearCache()
        return d

    def check(self, out: DataFrame | None = None) -> tuple[str, list[str]]:
        """Digest of the op's output (or of `out`) plus the invariant
        violations found, in one Spark job.  The digest is
        order-insensitive: xxhash64 over all columns in name order,
        summed modulo two primes, with the row count."""
        if out is None:
            out = self.spark.read.parquet(self.out)
        h = F.xxhash64(*[F.col(c) for c in sorted(out.columns)])
        dec = "decimal(38,0)"
        per_conv = out.groupBy("conv_id").agg(
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("split").alias("splits"),
            F.sum((~F.col("split").isin("train", "test")).cast("int")).alias("bad"),
            F.min(F.size("features")).alias("f_lo"),
            F.max(F.size("features")).alias("f_hi"),
            F.min(F.size("window_features")).alias("w_lo"),
            F.max(F.size("window_features")).alias("w_hi"),
            F.sum(F.pmod(h, F.lit(P1)).cast(dec)).alias("a"),
            F.sum(F.pmod(h, F.lit(P2)).cast(dec)).alias("b"),
        )
        r = per_conv.agg(
            F.sum("n").alias("n"),
            F.max("splits").alias("splits"),
            F.sum("bad").alias("bad"),
            F.min("f_lo").alias("f_lo"), F.max("f_hi").alias("f_hi"),
            F.min("w_lo").alias("w_lo"), F.max("w_hi").alias("w_hi"),
            F.sum("a").alias("a"), F.sum("b").alias("b"),
        ).first()
        width = self.layout.width
        cfg = self.wl.cfg
        w_width = window_vector_width(self.layout, cfg.top_k_entities, cfg.top_n_members)
        errors = []
        if r["n"] != self.expected_anchors:
            errors.append(f"anchors {r['n']} != {self.expected_anchors}")
        if r["bad"] or r["splits"] != 1:
            errors.append(f"split not train/test per conversation: {r['bad']} bad, {r['splits']} per conv")
        if not r["f_lo"] == r["f_hi"] == width:
            errors.append(f"features width {r['f_lo']}..{r['f_hi']} != {width}")
        if not r["w_lo"] == r["w_hi"] == w_width:
            errors.append(f"window_features width {r['w_lo']}..{r['w_hi']} != {w_width}")
        digest = hashlib.sha256(f"{r['a']}|{r['b']}|{r['n']}".encode()).hexdigest()[:24]
        return digest, errors
