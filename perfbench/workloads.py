"""The benchmark's workloads: input, timed operation, output check and the
traced run's extra calls into single layers.

Each workload drives the library only through its public entry points
(run_pipeline, lineage.run_resumable, operators.dedup.*,
operators.similarity.cosine_topk). The closed loop has one client: the
next operation starts when the previous one has been written and checked.
"""

from __future__ import annotations

import os
import random
import statistics
import time
from datetime import datetime

import pyarrow.parquet as pq

import inputs

# fused scorer node in a physical plan (udfs.scoring's pandas UDF)
SCORER_PROBE = r"^ArrowEvalPython \[batch\("
LINEAGE_BUCKETS = 4
SEMANTICS_SAMPLE = 200


class Workload:
    name: str
    size: dict

    def prepare(self, cache_root: str, seed: int) -> dict:
        return inputs.cached(cache_root, self.name, seed, self.size, self.cfg())

    def cfg(self):
        return None

    def check(self, out_dir: str, entry: dict, reference: list[str]) -> str | None:
        """None when the output matches the reference, else what differs."""
        lines = self.output_lines(pq.read_table(out_dir))
        if inputs.digest(lines) == entry["digest"]:
            return None
        got, want = set(lines), set(reference)
        return (
            f"digest mismatch: {len(got - want)} unexpected rows, e.g. "
            f"{sorted(got - want)[:2]}; {len(want - got)} missing, e.g. "
            f"{sorted(want - got)[:2]}"
        )


class NearDedup(Workload):
    """run_pipeline with near-dedup on, writing the label columns."""

    name = "near_dedup"
    size = {"docs": 2500}

    def cfg(self):
        from dataqualitykit_spark import PipelineConfig

        return PipelineConfig(dedup_near=True)

    def input_df(self, spark, entry):
        return spark.read.parquet(os.path.join(entry["path"], "input"))

    def op(self, spark, entry: dict, out_dir: str) -> None:
        from dataqualitykit_spark import run_pipeline

        labeled = run_pipeline(self.input_df(spark, entry), self.cfg())
        labeled.select(*inputs.LABEL_COLS).write.parquet(out_dir)

    def output_lines(self, table):
        return inputs.label_lines_of_table(table)

    def scored_docs(self, reference: list[str]) -> int:
        """Rows the scorer sees: survivors of the dedup stages (the only
        rows that carry scrubbed text)."""
        return sum(not line.endswith("\t-") for line in reference)

    def layer_calls(self, spark, entry, seed, work, labeled_dir, span) -> dict:
        """Calls into single layers on this workload's own frames."""
        from pyspark.sql import functions as F

        from dataqualitykit_spark import semantics
        from dataqualitykit_spark.lineage import run_resumable
        from dataqualitykit_spark.operators import dedup

        sc = spark.sparkContext
        cfg = self.cfg()
        out = {}
        pages = self.input_df(spark, entry)

        # semantics: the two kernels in-process, on a seeded sample
        texts = [
            t for t in pq.read_table(
                os.path.join(entry["path"], "input"), columns=["text"]
            ).column("text").to_pylist() if t
        ]
        sample = random.Random(seed).sample(texts, min(SEMANTICS_SAMPLE, len(texts)))
        with span("semantics.kernels"):
            scrub, metrics = [], []
            for _ in range(3):
                t0 = time.perf_counter()
                scrubbed = [semantics.scrub_text(t) for t in sample]
                t1 = time.perf_counter()
                for t in scrubbed:
                    semantics.full_metrics(t)
                t2 = time.perf_counter()
                scrub.append(t1 - t0)
                metrics.append(t2 - t1)
        out["scrub_us"] = min(scrub) / len(sample) * 1e6
        out["metrics_us"] = min(metrics) / len(sample) * 1e6

        # operators.dedup on the near-dedup participants of one labeled
        # output: every row the exact dedup stages let through
        labeled = spark.read.parquet(labeled_dir)
        part = labeled.filter(
            F.col("drop_reason").isNull()
            | ~F.col("drop_reason").isin("missing_text", "dup_url", "dup_content")
        ).select("url")
        docs = pages.join(part, "url").dropDuplicates(["url"]).select("url", "text")
        sc.setJobDescription("dedup.minhash_signatures")
        with span("dedup.minhash_signatures") as s:
            dedup.minhash_signatures(docs, "text", "url", cfg.near_dup_hashes).write.format(
                "noop"
            ).mode("overwrite").save()
        out["sig_s"] = s["end"] - s["start"]
        sc.setJobDescription("dedup.minhash_jaccard")
        with span("dedup.minhash_jaccard"):
            pairs = dedup.minhash_jaccard(
                docs, "text", "url", cfg.near_dup_hashes
            ).localCheckpoint(eager=True)
            counts = pairs.agg(
                F.count("*").alias("n"),
                F.sum((F.col("est_jaccard") >= cfg.near_dup_threshold).cast("long")).alias("hit"),
            ).first()
        out["candidate_pairs"] = counts["n"]
        out["strong_pairs"] = counts["hit"] or 0
        strong = pairs.filter(F.col("est_jaccard") >= cfg.near_dup_threshold)
        sc.setJobDescription("dedup.connected_components")
        with span("dedup.connected_components") as s:
            comp = dedup.connected_components(strong)
            out["components"] = comp.select("component").distinct().count()
        out["cc_s"] = s["end"] - s["start"]

        # lineage: the bucketed, resumable path over the same pages
        root = os.path.join(work, "lineage")
        sc.setJobDescription("lineage.run_resumable")
        with span("lineage.run_resumable"):
            manifest = run_resumable(spark, pages, root, n_buckets=LINEAGE_BUCKETS)
        done = sorted(
            datetime.fromisoformat(v["completed_at"]) for v in manifest.state.values()
        )
        out["bucket_s"] = statistics.median(
            (b - a).total_seconds() for a, b in zip(done, done[1:])
        )
        sc.setJobDescription(None)
        return out


class EmbedTopk(Workload):
    """cosine_topk of every query against the corpus, written as parquet."""

    name = "embed_topk"
    size = {"corpus": 6000, "queries": 256}

    def op(self, spark, entry: dict, out_dir: str) -> None:
        from dataqualitykit_spark.operators.similarity import cosine_topk

        corpus = spark.read.parquet(os.path.join(entry["path"], "corpus"))
        queries = spark.read.parquet(os.path.join(entry["path"], "queries"))
        cosine_topk(corpus, queries, k=inputs.EMBED_K).write.parquet(out_dir)

    def output_lines(self, table):
        cols = [table.column(c).to_pylist() for c in ("query_id", "rank", "neighbor_id", "cosine")]
        return [inputs.topk_line(*row) for row in zip(*cols)]

    def scored_docs(self, reference: list[str]) -> int:
        return 0

    def layer_calls(self, spark, entry, seed, work, labeled_dir, span) -> dict:
        return {}


WORKLOADS = {w.name: w for w in (NearDedup(), EmbedTopk())}

