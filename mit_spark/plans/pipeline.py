"""The extraction pipeline — detect -> OCR -> order -> emit as ONE Spark
logical plan (SURVEY.md §3.1 "Spark lifecycle equivalent").

Plan shape:

    scan docs(doc_id, spans)                       (columns pruned to 2)
      -> explode(spans)                            (span-level parallelism:
                                                    a 256-media doc becomes
                                                    256 independent rows —
                                                    the skew story, §4.1)
      -> kind='text'  : Catalyst-only boilerplate strip (JVM codegen)
         kind='media' : repartition by span hash -> mapInPandas(detect+OCR)
      -> unionByName
      -> salted two-phase groupBy(doc_id) collect_list + sort_array
      -> extracted(doc_id, spans ordered by `order`)

Everything relational is built-in; the only Python is the Arrow-batched
media UDF (vectorized-batch UDF execution per "Accelerating Python UDFs in
Vectorized Query Execution", CIDR 2022 — see PAPERS.md). No collect(), no
driver-side loops, no custom partitioner — scales by adding executors.
"""

from __future__ import annotations

from dataclasses import asdict
from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F

from mit_spark.config import DetectorOptions, PipelineConfig, PreprocessorOptions
from mit_spark.functions.textclean import clean_text_col
from mit_spark.operators.ordering import SPAN_STRIDE
from mit_spark.schema import FLAT_OUT


def _media_udf(detector_conf: dict, pre_conf: dict, fault_inject_refs: tuple = ()):
    """Build the Arrow-batched detect+OCR function (plain dicts travel in
    the closure; numpy state is created lazily per worker)."""

    def run(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        from mit_spark.operators.batched_detect import extract_media_spans_batched
        from mit_spark.session import apply_worker_env

        apply_worker_env()
        opts = DetectorOptions(**detector_conf)
        pre = PreprocessorOptions(**pre_conf)
        fault_refs = frozenset(fault_inject_refs or ())
        for pdf in batches:
            # cross-image forward packing over the Arrow batch, streamed one
            # full shape group at a time so the working set stays bounded
            # (operators/batched_detect.py): same rows as the per-span
            # extract_media_span loop — incl. per-span poison isolation
            # (SURVEY.md §2.10: a raising span becomes one kind='error' row,
            # dropped before the regroup, counted into lineage) — with up to
            # max_batch_size fewer forward calls
            rows = extract_media_spans_batched(
                list(zip(pdf["doc_id"], pdf["media_ref"], pdf["offset"])),
                opts,
                pre,
                fault_refs=fault_refs,
            )
            yield pd.DataFrame(rows, columns=["doc_id", "kind", "text", "media_ref", "order"])

    return run


def media_task_count(par: int) -> int:
    """Media-stage task count for ``par`` execution slots: two per slot.

    Cost model of one media task:
      * a fixed ~0.3 s of Python-worker CPU per task (PySpark's per-task
        worker setup), paid even by an empty partition;
      * a per-span cost (render, resize, forward, DBNet post, OCR) that
        grows with detect_size and varies with the span's content;
      * the repartition spreads spans by hash, so tasks carry near-equal
        span counts (not equal times: span cost varies).
    Each task beyond one per slot pays the fixed cost again; what it buys is
    a shorter straggler tail in the last wave. The media UDF bounds its own
    working set (operators/batched_detect.py), so larger tasks do not raise
    worker memory.

    Measured only at local[1], local[3] and local[4] on a 4-vCPU host with
    detect_size 512: at local[4] the last wave left 2-6% of the media
    stage's slot time idle (1-2% at 16 tasks per slot), while the stage ran
    faster. The straggler tail at local[8] and above was not re-measured
    for this rule.

    ``par`` comes from defaultParallelism at PLAN time, which is correct on
    a static cluster (the north rule's N / 4N shape). Under dynamic
    allocation it reflects the executors held when the plan is built —
    merely suboptimal as the cluster grows, never a correctness issue; pin
    spark.default.parallelism to the target size if scheduling there."""
    return 2 * par


def extract_flat(spark: SparkSession, docs_df: DataFrame, config: PipelineConfig | None = None) -> DataFrame:
    """Exploded output spans (doc_id, kind, text, media_ref, order) before
    the per-document regroup — useful for metrics and for the regroup-free
    sinks."""
    config = config or PipelineConfig()

    spans = docs_df.select("doc_id", F.explode("spans").alias("s")).select(
        "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
    )

    text_out = spans.filter(F.col("kind") == "text").select(
        "doc_id",
        F.lit("text").alias("kind"),
        clean_text_col(F.col("text")).alias("text"),
        F.lit("").alias("media_ref"),
        (F.col("offset").cast("long") * SPAN_STRIDE).cast("int").alias("order"),
    )

    media_in = spans.filter(F.col("kind") == "media").select("doc_id", "media_ref", "offset")
    # spread spans of media-heavy documents across the cluster (explode gave
    # span rows; hash-repartition breaks doc-locality so one heavy doc
    # occupies many tasks, not one)
    media_in = media_in.repartition(
        media_task_count(spark.sparkContext.defaultParallelism),
        F.xxhash64("doc_id", "offset"),
    )

    media_out = media_in.mapInPandas(
        _media_udf(
            asdict(config.detector), asdict(config.preprocessor),
            tuple(config.fault_inject_refs),
        ),
        schema=FLAT_OUT,
    )
    return text_out.unionByName(media_out)


def regroup(flat: DataFrame, config: PipelineConfig | None = None) -> DataFrame:
    """Rebuild ordered span arrays per document (kind='error' poison rows
    are excluded here; checkpoint counts them into lineage).

    Two-phase salted aggregation (SURVEY.md §4.1): phase 1 collects partial
    arrays per (doc_id, salt) so a 10^5-span document's rows are combined by
    ``regroup_salt`` reducers instead of one; phase 2 merges the few partial
    arrays and does the final sort. With salt<=1 it is a plain single-phase
    groupBy.
    """
    config = config or PipelineConfig()
    flat = flat.filter(F.col("kind") != "error")
    span_struct = F.struct("order", "kind", "text", "media_ref")
    salt = config.regroup_salt
    if salt > 1:
        partial = (
            flat.withColumn("_salt", F.pmod(F.col("order"), F.lit(salt)))
            .groupBy("doc_id", "_salt")
            .agg(F.collect_list(span_struct).alias("part"))
        )
        grouped = partial.groupBy("doc_id").agg(
            F.sort_array(F.flatten(F.collect_list("part"))).alias("sp")
        )
    else:
        grouped = flat.groupBy("doc_id").agg(F.sort_array(F.collect_list(span_struct)).alias("sp"))

    return grouped.select(
        "doc_id",
        F.transform(
            "sp",
            lambda s: F.struct(
                s["kind"].alias("kind"),
                s["text"].alias("text"),
                s["media_ref"].alias("media_ref"),
                s["order"].alias("order"),
            ),
        ).alias("spans"),
    )


def extract(spark: SparkSession, docs_df: DataFrame, config: PipelineConfig | None = None) -> DataFrame:
    """Full pipeline: docs -> extracted(doc_id, spans ordered)."""
    config = config or PipelineConfig()
    return regroup(extract_flat(spark, docs_df, config), config)
