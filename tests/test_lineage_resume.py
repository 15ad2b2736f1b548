"""Idempotent resume via the per-partition lineage table (north rule)."""

import os

from pyspark.sql import functions as F

from pdf_extraction_ai_agent_spark.plans.lineage import (
    LineageStore,
    run_with_lineage,
    with_part_id,
)


def _plan(df):
    return df.select("part_id", "conv_id", "turn_idx", F.length("text").alias("n_chars"))


def _assert_lineage_equals_recount(spark, out, lin, run_group):
    """The lineage rows' observed per-part counts equal a recount of the
    committed output (parts with no output rows record zero)."""
    committed = spark.read.parquet(out)
    err = (
        F.count(F.when(F.col("error").isNotNull(), 1))
        if "error" in committed.columns
        else F.lit(0).cast("long")
    )
    recount = {
        r.part_id: (r.n, r.e)
        for r in committed.groupBy("part_id").agg(F.count(F.lit(1)).alias("n"), err.alias("e")).collect()
    }
    lineage = spark.read.parquet(lin).filter(F.col("run_group") == run_group).collect()
    assert lineage
    for r in lineage:
        assert (r.n_rows, r.n_errors) == recount.get(r.part_id, (0, 0)), r.part_id


def test_resume_skips_completed_partitions(spark, transcripts_df, tmp_path_factory):
    base = str(tmp_path_factory.mktemp("lineage"))
    out, lin = os.path.join(base, "out"), os.path.join(base, "lineage")

    m1 = run_with_lineage(
        spark, transcripts_df, _plan, out, lin, run_group="g1", n_buckets=8, bucket_group_size=3
    )
    assert m1["skipped_buckets"] == 0
    n_expected = transcripts_df.count()
    assert spark.read.parquet(out).count() == n_expected

    # rerun: everything already committed → zero new groups
    m2 = run_with_lineage(
        spark, transcripts_df, _plan, out, lin, run_group="g1", n_buckets=8, bucket_group_size=3
    )
    assert m2["skipped_buckets"] == 8
    assert m2["groups"] == []
    assert spark.read.parquet(out).count() == n_expected  # idempotent

    # lineage metrics recorded per partition
    lineage_rows = spark.read.parquet(lin).collect()
    assert {r.part_id for r in lineage_rows} == set(range(8))
    assert all(r.turns_per_sec > 0 for r in lineage_rows)
    assert sum(g["rows"] for g in m1["groups"]) == n_expected
    _assert_lineage_equals_recount(spark, out, lin, "g1")


def test_empty_first_bucket_group(spark, transcripts_df, tmp_path_factory):
    """A first bucket group with no rows commits nothing and records zero
    counts; the later groups still count from their own writes (nothing
    re-reads an output directory that has no files yet)."""
    base = str(tmp_path_factory.mktemp("lineage_empty"))
    out, lin = os.path.join(base, "out"), os.path.join(base, "lineage")
    df = (
        with_part_id(transcripts_df, n_buckets=8)
        .filter(~F.col("part_id").isin([0, 1]))
        .drop("part_id")
    )
    n_expected = df.count()
    assert n_expected > 0

    def plan(d):
        return _plan(d).withColumn(
            "error", F.when(F.col("turn_idx") % 3 == 0, F.lit("poison"))
        )

    m = run_with_lineage(spark, df, plan, out, lin, run_group="g4", n_buckets=8,
                         bucket_group_size=2)
    assert m["groups"][0]["part_ids"] == [0, 1]
    assert (m["groups"][0]["rows"], m["groups"][0]["errors"]) == (0, 0)
    assert sum(g["rows"] for g in m["groups"]) == n_expected
    assert sum(g["errors"] for g in m["groups"]) == (
        df.filter(F.col("turn_idx") % 3 == 0).count()
    ) > 0
    assert spark.read.parquet(out).count() == n_expected
    _assert_lineage_equals_recount(spark, out, lin, "g4")


def test_partial_failure_resume(spark, transcripts_df, tmp_path_factory):
    """Simulate a crash after the first bucket group: a rerun processes only
    the remaining buckets and the final output equals a clean run."""
    base = str(tmp_path_factory.mktemp("lineage2"))
    out, lin = os.path.join(base, "out"), os.path.join(base, "lineage")

    df = with_part_id(transcripts_df, n_buckets=4)
    # "crashed" run: only buckets {0,1} committed + lineage written
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    _plan(df.filter(F.col("part_id").isin([0, 1]))).write.mode("overwrite").partitionBy(
        "part_id"
    ).parquet(out)
    store = LineageStore(spark, lin)
    store.append(
        [
            {"run_group": "g2", "part_id": p, "n_rows": 0, "wall_ms": 1, "turns_per_sec": 1.0}
            for p in (0, 1)
        ]
    )

    m = run_with_lineage(
        spark, transcripts_df, _plan, out, lin, run_group="g2", n_buckets=4, bucket_group_size=2
    )
    assert m["skipped_buckets"] == 2
    assert spark.read.parquet(out).count() == transcripts_df.count()
    assert sum(g["rows"] for g in m["groups"]) == (
        df.filter(~F.col("part_id").isin([0, 1])).count()
    )


def test_cached_max_conv_rows_stat_reuse(spark, transcripts_df, tmp_path_factory):
    """The auto-strategy pre-pass runs at most once per run_group/input
    snapshot: the first call scans and persists the stat to
    <lineage>_stats; a later call (resume) reads the cached value WITHOUT
    re-scanning — proven by handing it a different frame and still getting
    the first snapshot's number back."""
    from pdf_extraction_ai_agent_spark.plans.lineage import cached_max_conv_rows
    from pdf_extraction_ai_agent_spark.plans.pipeline import _max_conv_rows

    base = str(tmp_path_factory.mktemp("lineage3"))
    lin = os.path.join(base, "lineage")
    truth = _max_conv_rows(transcripts_df)
    assert truth > 0

    mx1 = cached_max_conv_rows(spark, transcripts_df, lin, run_group="g3")
    assert mx1 == truth
    assert spark.read.parquet(lin + "_stats").count() == 1

    # resume path: a poisoned input must NOT be scanned — cache wins
    poisoned = transcripts_df.limit(1)
    mx2 = cached_max_conv_rows(spark, poisoned, lin, run_group="g3")
    assert mx2 == truth

    # a different run_group (different snapshot) recomputes
    mx3 = cached_max_conv_rows(spark, poisoned, lin, run_group="g3b")
    assert mx3 == 1


def test_job_over_mixed_real_pdf_corpus(spark, tmp_path_factory):
    """ROADMAP 6 soak: the lineage-checkpointed job (auto salt strategy)
    over a corpus whose real-PDF turns span the full carrier matrix —
    classic, ObjStm, RC4/AESV2/AES-256 encrypted, CID and /Differences
    fonts. Every turn must extract (zero error rows — all carriers are
    in the dependency-free rung's scope), output rowcount == input, and
    the rerun must skip every bucket."""
    from pdf_extraction_ai_agent_spark.fixtures import generate_transcripts
    from pdf_extraction_ai_agent_spark.fixtures.transcripts import TRANSCRIPT_SCHEMA
    from pdf_extraction_ai_agent_spark.plans.pipeline import extract_pipeline

    pdf = generate_transcripts(n_convs=12, seed=7, skew=False, include_real_pdf=True)
    assert (pdf["text"].str.startswith("%PDF-1.")).sum() >= 3
    df = spark.createDataFrame(pdf, schema=TRANSCRIPT_SCHEMA)
    base = str(tmp_path_factory.mktemp("job_mixed"))
    out, lin = os.path.join(base, "out"), os.path.join(base, "lineage")

    m = run_with_lineage(
        spark, df,
        lambda d: extract_pipeline(d, salt_buckets="auto", with_fields=False,
                                   with_lob=False),
        out, lin, run_group="mix", n_buckets=4, bucket_group_size=2,
    )
    assert sum(g["rows"] for g in m["groups"]) == len(pdf)
    assert all(g["errors"] == 0 for g in m["groups"])
    _assert_lineage_equals_recount(spark, out, lin, "mix")
    m2 = run_with_lineage(
        spark, df,
        lambda d: extract_pipeline(d, salt_buckets="auto", with_fields=False,
                                   with_lob=False),
        out, lin, run_group="mix", n_buckets=4, bucket_group_size=2,
    )
    assert m2["skipped_buckets"] == 4 and not m2["groups"]
