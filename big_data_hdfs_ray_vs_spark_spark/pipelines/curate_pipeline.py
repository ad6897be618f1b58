"""End-to-end training-data curation pipeline — the LLM-data extension
workload, packaged with the same CLI/report surface as the four
reference pipelines (pipelines/common.py).

Stages (each a library operator, chained lazily so Catalyst sees one
plan per action):

  0. contract validation    (operators.validate — fail fast on nulls)
  1. exact dedup            (operators.dedup.exact_dedup)
  2. fuzzy dedup            (MinHash-LSH -> exact-Jaccard verify ->
                             dup_clusters -> keep representatives)
  3. quality + language gate (operators.text)
  4. per-domain caps + stratified sampling (operators.sampling)
  5. deterministic shuffle + quantized packing (training order/bins)
  6. parquet sink + text report

Scale shape: stages 1-2 are the bucketed/banded dedup plans (no
all-pairs work); stages 3-5 are narrow expressions + one window
shuffle each; nothing collects to the driver except the stage-count
scalars in the report.
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators import dedup, packing, sampling, text
from ..operators import validate as V
from ..session import get_spark
from .common import PhaseTimer, peak_rss_mb, write_report


def run(
    spark: SparkSession,
    input_path: str,
    output: str | None = None,
    jaccard_threshold: float = 0.5,
    min_quality: float = 0.3,
    fractions: dict[str, float] | None = None,
    n_shards: int = 16,
    pack_capacity: int = 512,
    domain_cap: int | None = None,
) -> dict:
    t = PhaseTimer()
    docs = spark.read.parquet(input_path)

    with t.time("validate"):
        # Fail fast on ingest-contract violations — one aggregate pass.
        # The input row count rides the same pass as an observation
        # (a dedicated count() would be a second full corpus scan).
        from ..operators.observe import observed

        obs_docs, obs = observed(docs, {"n_rows": F.count(F.lit(1))})
        audit = V.validate(
            obs_docs,
            [V.not_null("doc_id"), V.not_null("text"), V.unique(["doc_id"])],
        ).collect()
        n_input = obs.get["n_rows"]
        failures = [r["rule"] for r in audit if not r["passed"]]
        if failures:
            raise ValueError(f"input contract violated: {failures}")

    with t.time("dedup_exact"):
        exact = dedup.exact_dedup(docs).persist()
        n_exact = exact.count()

    with t.time("dedup_fuzzy"):
        clusters = dedup.dup_clusters(dedup.near_dup_pairs(exact, jaccard_threshold))
        losers = clusters.filter(~F.col("is_rep")).select("doc_id")
        deduped = exact.join(losers, on="doc_id", how="left_anti").persist()
        n_fuzzy = deduped.count()

    with t.time("quality_gate"):
        scored = text.lang_id_heuristic(text.quality_features(deduped))
        kept = scored.filter(F.col("quality_score") >= min_quality)
        n_kept = kept.count()

    with t.time("curate"):
        if domain_cap:
            kept = sampling.cap_per_group(kept, "source", cap=domain_cap)
        sampled = (
            sampling.stratified_sample(kept, "lang", fractions) if fractions else kept
        ).persist()
        n_sampled = sampled.count()
        order = sampling.deterministic_shuffle(sampled, n_shards=n_shards)
        packed = packing.quantized_packing(
            sampled, capacity=pack_capacity, key_col="source"
        )
        n_bins = packed.agg(
            F.count_distinct("source", "bin_id").alias("n")
        ).first()["n"]

    with t.time("load"):
        if output:
            curated = sampled.join(order, on="doc_id").join(
                packed.select("doc_id", "bin_id"), on="doc_id"
            )
            curated.write.mode("overwrite").parquet(output + "/curated")

    exact.unpersist()
    deduped.unpersist()
    sampled.unpersist()
    return {
        "phases": t.phases,
        "total_sec": t.total,
        "peak_rss_mb": round(peak_rss_mb(), 2),
        "n_input": n_input,
        "n_after_exact_dedup": n_exact,
        "n_after_fuzzy_dedup": n_fuzzy,
        "n_after_quality_gate": n_kept,
        "n_sampled": n_sampled,
        "n_packed_bins": n_bins,
    }


def report_lines(res: dict, datafile: str) -> list[str]:
    return [
        "CURATION PIPELINE RESULTS (spark engine)",
        f"dataset: {datafile}",
        f"total time: {res['total_sec']} s  phases: {res['phases']}",
        f"peak memory: {res['peak_rss_mb']} MB",
        f"docs: {res['n_input']} -> exact {res['n_after_exact_dedup']}"
        f" -> fuzzy {res['n_after_fuzzy_dedup']}"
        f" -> quality {res['n_after_quality_gate']}"
        f" -> sampled {res['n_sampled']}",
        f"packed bins: {res['n_packed_bins']}",
    ]


def main(argv: list[str] | None = None) -> str:
    p = argparse.ArgumentParser(description="Training-data curation pipeline")
    p.add_argument("-f", "--datafile", required=True, help="documents parquet path")
    p.add_argument("--output", default=None)
    p.add_argument("--jaccard-threshold", type=float, default=0.5)
    p.add_argument("--min-quality", type=float, default=0.3)
    p.add_argument("--domain-cap", type=int, default=None)
    args = p.parse_args(argv)
    spark = get_spark(app_name="curate-pipeline")
    res = run(
        spark,
        args.datafile,
        args.output,
        jaccard_threshold=args.jaccard_threshold,
        min_quality=args.min_quality,
        domain_cap=args.domain_cap,
    )
    return write_report("curate", args.datafile, report_lines(res, args.datafile))


if __name__ == "__main__":
    print(main())
