"""End-to-end span-sequence equality: Spark pipeline == numpy oracle on the
deterministic synthetic docs table (the north rule's per-row invariant:
(kind, text, media_ref, order) per document)."""

import pytest

from mit_spark.config import DetectorOptions, PipelineConfig
from mit_spark.oracle import extract_docs
from mit_spark.schema import DOCS
from mit_spark.synth import gen_docs

# small detect_size keeps the tiny-scale suite fast; oracle and pipeline
# always share the config so equality is exercised at any size
TEST_CFG = PipelineConfig(detector=DetectorOptions(detect_size=512))


def _spans_tuples(spans):
    return [(s["kind"], s["text"], s["media_ref"], s["order"]) for s in spans]


def _rows_to_dict(rows):
    out = {}
    for r in rows:
        out[r["doc_id"]] = [
            (s["kind"], s["text"], s["media_ref"], s["order"]) for s in r["spans"]
        ]
    return out


@pytest.fixture(scope="module")
def docs():
    return gen_docs(24)


@pytest.fixture(scope="module")
def oracle_out(docs):
    return {d["doc_id"]: _spans_tuples(d["spans"]) for d in extract_docs(docs, TEST_CFG)}


def test_pipeline_matches_oracle(spark, docs, oracle_out):
    from mit_spark.plans.pipeline import extract

    docs_df = spark.createDataFrame(docs, schema=DOCS)
    got = _rows_to_dict(extract(spark, docs_df, TEST_CFG).collect())
    assert set(got) == set(oracle_out)
    mismatches = {k for k in got if got[k] != oracle_out[k]}
    assert not mismatches, f"span-sequence mismatch for {sorted(mismatches)[:3]}: " \
        f"{[(got[k], oracle_out[k]) for k in sorted(mismatches)[:1]]}"


def test_pipeline_output_schema(spark, docs):
    from mit_spark.plans.pipeline import extract

    docs_df = spark.createDataFrame(docs[:2], schema=DOCS)
    out = extract(spark, docs_df, TEST_CFG)
    fields = {f.name: f.dataType.simpleString() for f in out.schema.fields}
    assert fields["doc_id"] == "string"
    assert "array<struct<kind:string,text:string,media_ref:string,order:int>>" == fields["spans"]


def test_pipeline_orders_are_sorted(spark, docs):
    from mit_spark.plans.pipeline import extract

    docs_df = spark.createDataFrame(docs[:6], schema=DOCS)
    for row in extract(spark, docs_df, TEST_CFG).collect():
        orders = [s["order"] for s in row["spans"]]
        assert orders == sorted(orders)


def test_pipeline_unsalted_equals_salted(spark, docs, oracle_out):
    from mit_spark.plans.pipeline import extract

    cfg = PipelineConfig(detector=DetectorOptions(detect_size=512), regroup_salt=1)
    docs_df = spark.createDataFrame(docs[:8], schema=DOCS)
    got = _rows_to_dict(extract(spark, docs_df, cfg).collect())
    for k, v in got.items():
        assert v == oracle_out[k]


def test_heavy_doc_media_extraction(spark):
    """doc_no % 50 == 49 -> 64-256 media spans (FIXTURES.md F1 skew knob);
    run one heavy doc at a small detect size through the salted path."""
    cfg = PipelineConfig(detector=DetectorOptions(detect_size=256), regroup_salt=8)
    heavy = gen_docs(50)[49:50]
    n_media = sum(1 for s in heavy[0]["spans"] if s["kind"] == "media")
    assert n_media >= 64
    from mit_spark.plans.pipeline import extract

    docs_df = spark.createDataFrame(heavy, schema=DOCS)
    got = _rows_to_dict(extract(spark, docs_df, cfg).collect())
    want = {d["doc_id"]: _spans_tuples(d["spans"]) for d in extract_docs(heavy, cfg)}
    assert got == want


def test_detection_recovers_ground_truth_exactly():
    """Absolute-truth invariant backing the flagship SQL oracles
    (flagship_span_counts / flagship_text_digest): at detect_size=512 the
    detect->OCR path recovers EXACTLY media_truth's rects — same count, same
    digit strings — for every media ref. The DuckDB oracle re-derives
    media_truth arithmetic in SQL, so this equality is what makes those
    oracles sound."""
    from mit_spark.config import DetectorOptions, PreprocessorOptions
    from mit_spark.oracle import extract_media_span
    from mit_spark.synth import gen_doc, media_truth

    opts = DetectorOptions(detect_size=512, emit_mask=False)
    pre = PreprocessorOptions()
    checked = 0
    for i in range(30):
        for s in gen_doc(f"doc-{i:08d}"):
            if s["kind"] != "media":
                continue
            truth = media_truth(s["media_ref"])
            want = sorted(r[4] for r in truth["rects"])
            got = sorted(
                x["text"]
                for x in extract_media_span(s["media_ref"], s["offset"], opts, pre)
            )
            assert got == want, f"{s['media_ref']}: {got} != {want}"
            checked += 1
    assert checked > 20


def test_media_task_count_bounds():
    """Task-count policy across parallelism levels: two media tasks per
    slot (each Python task pays a fixed worker cost; see media_task_count)."""
    from mit_spark.plans.pipeline import media_task_count

    for par in (1, 2, 3, 4, 8, 16, 32, 64, 128, 512, 1000):
        assert media_task_count(par) == 2 * par


def test_media_stage_partition_count_matches_policy(spark):
    """The media branch's physical plan must carry exactly the policy's
    partition count for the session's parallelism."""
    from mit_spark.plans.pipeline import extract_flat, media_task_count

    docs_df = spark.createDataFrame(gen_docs(4), schema=DOCS)
    flat = extract_flat(spark, docs_df, TEST_CFG)
    expect = media_task_count(spark.sparkContext.defaultParallelism)
    plan = flat._jdf.queryExecution().optimizedPlan().toString()
    assert f", {expect}" in plan.split("RepartitionByExpression")[1].splitlines()[0]
