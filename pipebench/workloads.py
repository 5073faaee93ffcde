"""The workloads. Each pass calls the package's public functions in the
order the CLI ``etl``/``train``/``curate`` paths and the dashboard
module call them, with one span around each call; each call is one op.

A workload's ``prepare`` generates its seeded inputs and is never
timed. ``run`` makes one pass and returns an ``Iteration``: its wall
and CPU time, its item count and its ops, each with its latency and the
problems the output checks found in what that call produced.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field

import checks
import gen
from spans import cpu_seconds

# Input sizes. An item is a C-MAPSS train or test cycle row, an input
# document or a media object.
CMAPSS_UNITS = (4, 4)  # train, test units per dataset, four datasets
CURATION_BASE_DOCS = 100
MEDIA = {"image_groups": 15, "audio_groups": 15, "copies": 6}

CHUNK_TOKENS, OVERLAP, MAX_SEQ_TOKENS = 64, 8, 256


@dataclass
class Op:
    name: str
    latency_s: float
    problems: list[str] = field(default_factory=list)


@dataclass
class Iteration:
    wall_s: float
    cpu_s: float
    items: int
    ops: list[Op]


class Workload:
    name: str
    spans: tuple[str, ...]

    def __init__(self, spark, work_dir: str, seed: int):
        self.spark = spark
        self.dir = os.path.join(work_dir, self.name)
        self.seed = seed
        self.planted: dict = {}

    def ops(self, spans: list[dict], problems: dict[str, list[str]]) -> list[Op]:
        """One op per span of this pass, carrying its call's problems."""
        return [
            Op(s["name"], s["wall_s"], s.get("problems", []) + problems.get(s["name"], []))
            for s in spans
        ]

    def prepare(self) -> None:
        raise NotImplementedError

    def run(self, tr) -> Iteration:
        raise NotImplementedError


class CmapssRulFleet(Workload):
    """The paper's pipeline, then the dashboard over what it wrote."""

    name = "cmapss_rul_fleet"
    models = ("linear_regression",)
    tiles = (
        "fleet_overview",
        "critical_share",
        "rul_distribution",
        "sensor_bounds",
        "sensor_histogram",
        "recent_predictions",
        "prediction_error_summary",
    )
    spans = (
        "pipeline.run_etl",
        "pipeline.prepare_test_features",
        *(f"ml.pipeline.train_and_score.{m}" for m in models),
        "ml.mlp.train_and_score_mlp",
        "ml.pipeline.predictions_write",
        *(f"metrics.dashboard.{t}" for t in tiles),
    )

    def prepare(self) -> None:
        from turbine_maintenance_etl_spark.pipeline import DatasetConfig, EtlConfig

        p = self.planted = gen.write_cmapss_corpus(
            os.path.join(self.dir, "raw"), self.seed, *CMAPSS_UNITS
        )
        test_units = sum(d["test_units"] for d in p["datasets"].values())
        p["prediction_rows"] = test_units * (len(self.models) + 1)
        self.cfg = EtlConfig(
            datasets=[
                DatasetConfig(code, d["train"], d["test"], d["rul"])
                for code, d in sorted(p["datasets"].items())
            ],
            output_path=os.path.join(self.dir, "out"),
        )
        self.pred_path = os.path.join(self.dir, "out", "ml_predictions")

    def run(self, tr) -> Iteration:
        """CLI ``etl``, then ``train`` per model with ``--predictions-out``,
        then one dashboard render over the written tables."""
        from turbine_maintenance_etl_spark.ml.mlp import train_and_score_mlp
        from turbine_maintenance_etl_spark.ml.pipeline import (
            feature_columns,
            predictions_table,
            train_and_score,
        )
        from turbine_maintenance_etl_spark.pipeline import (
            prepare_test_features,
            run_etl,
        )

        shutil.rmtree(self.pred_path, ignore_errors=True)
        spark, cfg, first = self.spark, self.cfg, len(tr.spans)
        t0, c0 = time.perf_counter(), cpu_seconds()
        with tr.span("pipeline.run_etl"):
            res = run_etl(spark, cfg, write=True)
        with tr.span("pipeline.prepare_test_features"):
            test = prepare_test_features(spark, cfg, res.kept_sensors, cfg.windows)
            test = test.withColumnRenamed("rul_true", "rul")
        scored, metrics = {}, {}
        for model in self.models:
            with tr.span(f"ml.pipeline.train_and_score.{model}"):
                _, scored[model], metrics[model] = train_and_score(
                    res.features, test, model
                )
        with tr.span("ml.mlp.train_and_score_mlp"):
            _, scored["mlp"], metrics["mlp"] = train_and_score_mlp(res.features, test)
        with tr.span("ml.pipeline.predictions_write"):
            feats = feature_columns(res.features)
            for model, frame in scored.items():
                predictions_table(frame, model, feats).write.mode("append").partitionBy(
                    "dataset"
                ).parquet(self.pred_path)
        features = spark.read.parquet(res.paths["fct_cycles_features"])
        self._render(tr, features, spark.read.parquet(self.pred_path), res.kept_sensors)
        wall, cpu = time.perf_counter() - t0, cpu_seconds() - c0
        self.rmse = {m: v["rmse"] for m, v in metrics.items()}
        problems = checks.check_cmapss(
            self._observe(tr.spans[first:], res, features, metrics),
            self.planted,
            rmse_ceiling=0.85 * self.planted["train_rul_std"],
        )
        return Iteration(wall, cpu, self.planted["items"], self.ops(tr.spans[first:], problems))

    def _render(self, tr, f, p, sensors) -> None:
        """One dashboard render: every tile's query, collected."""
        from turbine_maintenance_etl_spark.metrics import dashboard as dash
        from turbine_maintenance_etl_spark.ml.pipeline import prediction_error_summary

        def tile(name, query):
            with tr.span(f"metrics.dashboard.{name}") as rec:
                rec["result"] = query()
            rec["problems"] = checks.check_tile(name, rec["result"], self.planted)
            return rec["result"]

        tile("fleet_overview", lambda: dash.fleet_overview(f).collect())
        tile("critical_share", lambda: dash.critical_share(f).collect())
        tile("rul_distribution", lambda: dash.rul_distribution(f).collect())
        bounds = tile("sensor_bounds", lambda: dash.sensor_bounds(f, sensors))
        for c in sensors:
            tile(
                "sensor_histogram",
                lambda c=c: dash.sensor_histogram(f, c, bounds=bounds[c]).collect(),
            )
        tile("recent_predictions", lambda: dash.recent_predictions(p).collect())
        tile("prediction_error_summary", lambda: prediction_error_summary(p).collect())

    def _observe(self, spans, res, features, metrics) -> dict:
        from pyspark.sql import functions as F

        results = {s["name"]: s.pop("result") for s in spans if "result" in s}
        per_model: dict[str, int] = {}
        for r in results["metrics.dashboard.prediction_error_summary"]:
            per_model[r["model_name"]] = per_model.get(r["model_name"], 0) + r["n_predictions"]
        return {
            "kept_sensors": res.kept_sensors,
            "feature_rows": sum(
                r["n_cycles"] for r in results["metrics.dashboard.fleet_overview"]
            ),
            "rul0_per_unit": [
                tuple(r) for r in features.filter(F.col("rul") == 0)
                .groupBy("dataset", "unit_nr").count().collect()
            ],
            "prediction_rows": per_model,
            "metrics": metrics,
        }


class CurationMedia(Workload):
    """The LLM-data operators: corpus curation, then media dedup."""

    name = "curation_media"
    spans = (
        "llm.quality.decontaminate",
        "llm.curation.curate_corpus_v3",
        "llm.dedup.cluster_aware_split",
        "llm.pack.pack_sequences",
        "curate.write_chunks",
        "curate.write_packed",
        "llm.multimodal.image_phash_dedup",
        "llm.multimodal.audio_fingerprint_dedup",
    )

    def prepare(self) -> None:
        raw = os.path.join(self.dir, "raw")
        docs = gen.write_doc_corpus(os.path.join(raw, "docs"), self.seed, CURATION_BASE_DOCS)
        media = gen.write_media_corpus(os.path.join(raw, "media"), self.seed, **MEDIA)
        self.planted = {"docs": docs, "media": media, "items": docs["items"] + media["items"]}
        self.raw, self.out = raw, os.path.join(self.dir, "out")

    def run(self, tr) -> Iteration:
        first = len(tr.spans)
        t0, c0 = time.perf_counter(), cpu_seconds()
        observed = self._curate(tr)
        media_problems = self._dedup_media(tr)
        wall, cpu = time.perf_counter() - t0, cpu_seconds() - c0
        problems = checks.check_curation(
            self._observe(*observed), self.planted["docs"], MAX_SEQ_TOKENS
        )
        return Iteration(
            wall, cpu, self.planted["items"],
            self.ops(tr.spans[first:], {**problems, **media_problems}),
        )

    def _curate(self, tr):
        """``curate --v3 --decontaminate eval.parquet --split-eval-pct 20``."""
        from pyspark.sql import functions as F

        from turbine_maintenance_etl_spark.llm.curation import curate_corpus_v3
        from turbine_maintenance_etl_spark.llm.dedup import cluster_aware_split
        from turbine_maintenance_etl_spark.llm.pack import pack_sequences
        from turbine_maintenance_etl_spark.llm.quality import decontaminate
        from turbine_maintenance_etl_spark.ops.materialize import barrier

        spark, raw = self.spark, os.path.join(self.raw, "docs")
        docs = spark.read.parquet(os.path.join(raw, "docs"))
        evals = spark.read.parquet(os.path.join(raw, "eval.parquet"))
        with tr.span("llm.quality.decontaminate"):
            clean = barrier(decontaminate(docs, evals, threshold=0.2), "cli-decontaminated")
        with tr.span("llm.curation.curate_corpus_v3"):
            chunks = curate_corpus_v3(
                clean, ppl_keep_frac=0.9, chunk_tokens=CHUNK_TOKENS, overlap=OVERLAP
            )
        chunks = chunks.join(docs.select("doc_id", F.col("source").alias("shard")), "doc_id")
        with tr.span("llm.dedup.cluster_aware_split"):
            splits = cluster_aware_split(clean, train_pct=80).select("doc_id", "split")
        chunks = chunks.join(splits, "doc_id")
        with tr.span("llm.pack.pack_sequences"):
            packed = pack_sequences(
                chunks.select(
                    F.concat_ws("\x1f", "shard", "split").alias("shard"),
                    "doc_id", "chunk_id",
                    F.col("chunk_tokens").cast("long").alias("chunk_tokens"),
                ),
                max_tokens=MAX_SEQ_TOKENS,
            )
            sep = F.lit("\x1f")
            packed = packed.withColumn(
                "split", F.split_part(F.col("shard"), sep, F.lit(2))
            ).withColumn("shard", F.split_part(F.col("shard"), sep, F.lit(1)))
        out_chunks, out_packed = f"{self.out}/chunks", f"{self.out}/packed"
        with tr.span("curate.write_chunks"):
            chunks.write.mode("overwrite").parquet(out_chunks)
        with tr.span("curate.write_packed"):
            packed.write.mode("overwrite").parquet(out_packed)
        return out_chunks, out_packed

    def _observe(self, out_chunks, out_packed) -> dict:
        from pyspark.sql import functions as F

        spark = self.spark
        return {
            "chunk_docs": {
                r["doc_id"]: r["split"]
                for r in spark.read.parquet(out_chunks).select("doc_id", "split")
                .distinct().collect()
            },
            "seq_tokens": [
                r["tokens"] for r in spark.read.parquet(out_packed)
                .groupBy("shard", "split", "seq_no")
                .agg(F.sum("chunk_tokens").alias("tokens")).collect()
            ],
        }

    def _dedup_media(self, tr) -> dict[str, list[str]]:
        from pyspark.sql import functions as F

        from turbine_maintenance_etl_spark.llm.multimodal import (
            audio_fingerprint,
            image_phash,
            phash_dedup,
        )

        raw, plant = os.path.join(self.raw, "media"), self.planted["media"]
        problems = {}
        for kind, table, span, fingerprint, col in (
            ("image", "images", "llm.multimodal.image_phash_dedup", image_phash, "dhash"),
            ("audio", "audio", "llm.multimodal.audio_fingerprint_dedup", audio_fingerprint, "afp"),
        ):
            frame = self.spark.read.parquet(os.path.join(raw, table))
            with tr.span(span):
                kept = phash_dedup(fingerprint(frame), col).filter(F.col("survivor"))
                rows = kept.select("err").collect()
            problems[span] = checks.check_media(
                kind, len(rows), [r["err"] for r in rows if r["err"]], plant[f"{kind}_groups"]
            )
        return problems


WORKLOADS = {w.name: w for w in (CmapssRulFleet, CurationMedia)}
ALL_SPANS = tuple(s for w in WORKLOADS.values() for s in w.spans)
