"""Sources — build the interleaved docs table (input_hint shape) and other
engine inputs.

The driver's testdata has no interleaved-docs parquet, so ``load_docs``
derives it deterministically from ``documents.parquet`` doc_ids with the
synth generator running DISTRIBUTED inside mapInPandas (any worker can
regenerate any document — no driver-side generation, no collect; TESTDATA.md
forbids writing new inputs). An Iceberg scan drops in here unchanged when
the runtime jar is present (sources are behind one function seam).
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, SparkSession, functions as F

from mit_spark.schema import DOCS


def load_doc_ids(spark: SparkSession, sf_dir: str, limit: int | None = None) -> DataFrame:
    ids = (
        read_table(spark, sf_dir, "documents")
        .select(F.format_string("doc-%08d", F.col("doc_id")).alias("doc_id"))
    )
    if limit:
        ids = ids.limit(limit)
    return ids


def load_docs(
    spark: SparkSession,
    sf_dir: str,
    limit: int | None = None,
    replicate: int = 1,
    max_doc_no: int | None = None,
) -> DataFrame:
    """Interleaved docs table derived from the sf dir's doc_ids.

    ``replicate`` > 1 deterministically widens the corpus (benchmark scale
    knob): copy r gets doc_ids "doc<r>-%08d", which hash to fresh span
    layouts through the same generator.

    ``max_doc_no`` keeps doc_ids below "doc-%08d" % max_doc_no — a
    DETERMINISTIC slice (unlike ``limit`` on an unordered frame, whose row
    choice depends on file/partition order); the predicate is applied to the
    ids scan, before generation, so pruning reaches the parquet read."""

    def gen(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:  # noqa: F821
        import pandas as pd

        from mit_spark.synth import gen_doc

        for pdf in batches:
            yield pd.DataFrame(
                {"doc_id": pdf["doc_id"], "spans": [gen_doc(d) for d in pdf["doc_id"]]}
            )

    ids = load_doc_ids(spark, sf_dir, limit)
    if max_doc_no is not None:
        ids = ids.filter(F.col("doc_id") < f"doc-{max_doc_no:08d}")
    if replicate > 1:
        tail = F.substring_index("doc_id", "-", -1)
        copies = [ids] + [
            ids.select(F.concat(F.lit(f"doc{r}-"), tail).alias("doc_id"))
            for r in range(1, replicate)
        ]
        base = copies[0]
        for c in copies[1:]:
            base = base.unionByName(c)
        ids = base
    # generation cost scales with span count; spread ids before generating
    ids = ids.repartition(spark.sparkContext.defaultParallelism)
    return ids.mapInPandas(gen, schema=DOCS)


def read_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    fmt: str | None = None,
    schema=None,
) -> DataFrame:
    """Engine input seam for the relational tables. ``fmt=None`` autodetects
    by file presence — parquet (the testdata default) first, then orc, json,
    csv, xml — so a registry query needs no change to read another format:
    pointing sf_dir at an export of the same tables is the only change.
    Output equality across formats is proven only where
    tests/test_source_formats checks it: ``documents`` over ORC, JSON and
    XML (exact_dedup, doc_token_stats, sequence_pack), ``embeddings`` over
    ORC, the flagship's doc ids over JSON, and a CSV round-trip with a
    pinned schema. Pass ``schema`` to pin types for the schemaless formats
    (json/csv/xml infer BIGINT/VARCHAR/DOUBLE, which matches the testdata
    tables; columns like array<float> need the pin). XML uses Spark 4's
    built-in reader with rowTag="row" (the convention this seam's writer
    side uses in test_source_formats). Null versus empty string in XML:
    Spark's writer omits the element for a null and writes an empty
    element for "", and its reader maps both back (checked on Spark 4.1);
    a corpus written by another tool may use one form for both, and then
    the two cannot be told apart. A string holding a control character
    that XML 1.0 forbids fails Spark's XML write."""
    import os as _os

    if fmt is None:
        for cand in ("parquet", "orc", "json", "csv", "xml"):
            if _os.path.exists(_os.path.join(sf_dir, f"{name}.{cand}")):
                fmt = cand
                break
        else:
            fmt = "parquet"  # let Spark raise its path error
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if fmt == "csv":
        reader = reader.option("header", "true")
        if schema is None:
            reader = reader.option("inferSchema", "true")
    if fmt == "xml":
        reader = reader.option("rowTag", "row")
    return reader.format(fmt).load(f"{sf_dir}/{name}.{fmt}")
