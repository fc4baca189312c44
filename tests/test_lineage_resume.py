"""Lineage counters + checkpoint-resume semantics (north_rule)."""

import pytest

from action_pdf_accessibility_paddle_docker_spark.plans.extraction import build_extraction
from action_pdf_accessibility_paddle_docker_spark.plans.lineage import (
    completed_buckets,
    lineage_metrics,
    read_lineage,
    run_resumable,
)
from action_pdf_accessibility_paddle_docker_spark.sources.transcripts import (
    write_transcripts_parquet,
)


@pytest.fixture(scope="module")
def input_path(tmp_path_factory):
    p = tmp_path_factory.mktemp("transcripts")
    n = write_transcripts_parquet(str(p), n_convs=20, median_turns=4, seed=7)
    return str(p), n


def test_lineage_metrics_cover_all_rows(spark, input_path):
    path, n = input_path
    df = spark.read.parquet(path)
    out = build_extraction(df, order_output=False)
    m = lineage_metrics(out).collect()
    assert sum(r["turns"] for r in m) == n
    assert all(r["errors"] == 0 for r in m)
    assert all(r["part_id"] >= 0 for r in m)


def test_resume_after_injected_crash(spark, input_path, tmp_path):
    path, n = input_path
    out_root = str(tmp_path / "out")

    with pytest.raises(RuntimeError, match="injected failure"):
        run_resumable(spark, path, out_root, n_buckets=8, bucket_batch=2,
                      fail_after_batches=2)
    done_first = completed_buckets(out_root)
    assert len(done_first) == 4  # 2 batches x 2 buckets committed

    summary = run_resumable(spark, path, out_root, n_buckets=8, bucket_batch=2)
    assert summary["resumed_buckets"] == 4
    assert summary["ran_buckets"] == 4

    # completeness + exactly-once: every input turn exactly once
    got = spark.read.parquet(out_root + "/data")
    assert got.count() == n
    assert got.select("conv_id", "turn_idx").distinct().count() == n

    # matches a plain single-shot run
    plain = build_extraction(spark.read.parquet(path)).select(
        "conv_id", "turn_idx", "extracted_text").collect()
    resumed = got.select("conv_id", "turn_idx", "extracted_text").collect()
    assert sorted(map(tuple, resumed)) == sorted(map(tuple, plain))


def test_rerun_is_noop(spark, input_path, tmp_path):
    path, n = input_path
    out_root = str(tmp_path / "out2")
    run_resumable(spark, path, out_root, n_buckets=4, bucket_batch=4)
    again = run_resumable(spark, path, out_root, n_buckets=4, bucket_batch=4)
    assert again["ran_buckets"] == 0
    assert again["resumed_buckets"] == 4


def test_default_run_scans_input_once(spark, input_path, tmp_path):
    """Default (no bucket_batch): ALL pending buckets go out in one
    partitionBy('bucket') pass -> exactly one scan of the input per resume
    cycle (the old per-batch re-filter scanned the input once per batch)."""
    path, n = input_path
    out_root = str(tmp_path / "out3")
    summary = run_resumable(spark, path, out_root, n_buckets=16)
    assert summary["input_scans"] == 1
    assert summary["ran_buckets"] == 16
    assert summary["turns"] == n
    assert spark.read.parquet(out_root + "/data").count() == n


def test_lineage_counters_are_per_bucket(spark, input_path, tmp_path):
    """Each bucket's lineage record carries ITS OWN counters (derived from a
    grouped pass over the written output), not batch-level copies; their sum
    reconciles with the summary and the data root. The pinned run config is
    the exact dict earlier versions wrote, so their outputs still resume."""
    import json

    path, n = input_path
    out_root = str(tmp_path / "out4")
    summary = run_resumable(spark, path, out_root, n_buckets=8)
    with open(f"{out_root}/_lineage/run_config.json") as f:
        assert json.load(f) == {
            "kind": "extraction", "n_buckets": 8, "bucket_key": "conv_id",
            "iceberg_table": None, "input": path, "thresholds": None,
            "detector": "stub:[]",
        }
    recs = read_lineage(out_root)
    assert set(recs) == set(range(8))
    assert all(set(r) == {"bucket", "counters", "committed_at"}
               for r in recs.values())
    assert summary["turns"] == sum(r["counters"]["turns"] for r in recs.values())
    assert summary["errors"] == sum(r["counters"]["errors"] for r in recs.values())
    per_bucket_turns = [recs[b]["counters"]["turns"] for b in range(8)]
    assert sum(per_bucket_turns) == n
    # 20 convs over 8 hash buckets: bucket sizes must actually differ
    # (batch-level copies would all be equal)
    assert len(set(per_bucket_turns)) > 1
    got = spark.read.parquet(out_root + "/data")
    assert sum(per_bucket_turns) == got.count()
    for b in range(8):
        assert recs[b]["counters"]["turns"] == got.where(f"bucket = {b}").count()


def test_double_crash_then_resume(spark, input_path, tmp_path):
    """Crash during the RECOVERY run as well: progress still accumulates
    bucket by bucket and the final output equals a single-shot run."""
    path, n = input_path
    out_root = str(tmp_path / "out2")

    for expected_done in (2, 4):
        with pytest.raises(RuntimeError, match="injected failure"):
            run_resumable(spark, path, out_root, n_buckets=8, bucket_batch=2,
                          fail_after_batches=1)
        assert len(completed_buckets(out_root)) == expected_done

    summary = run_resumable(spark, path, out_root, n_buckets=8, bucket_batch=2)
    assert summary["resumed_buckets"] == 4 and summary["ran_buckets"] == 4
    got = spark.read.parquet(out_root + "/data")
    assert got.count() == n
    assert got.select("conv_id", "turn_idx").distinct().count() == n


def test_lineage_debris_ignored(spark, input_path, tmp_path):
    """Stray files matching bucket_*.json with a non-numeric middle (editor
    save-as, object-store copy debris) must be ignored, not brick every
    resume with ValueError."""
    import os

    path, n = input_path
    out = str(tmp_path / "deb")
    run_resumable(spark, path, out, n_buckets=4)
    with open(os.path.join(out, "_lineage", "bucket_3 (1).json"), "w") as f:
        f.write("{}")
    assert completed_buckets(out, spark) == {0, 1, 2, 3}
    assert set(read_lineage(out, spark)) == {0, 1, 2, 3}
    # a rerun still no-ops cleanly
    summary = run_resumable(spark, path, out, n_buckets=4)
    assert summary["ran_buckets"] == 0


def test_resume_refuses_different_input(spark, input_path, tmp_path):
    """The run config pins the INPUT path: resuming against a different
    input would silently mix corpora (committed buckets keep input-A rows;
    input-B rows hashing into them are never written)."""
    path, n = input_path
    other = str(tmp_path / "other_in")
    write_transcripts_parquet(other, n_convs=5, median_turns=3, seed=9)
    out = str(tmp_path / "pin_in")
    with pytest.raises(RuntimeError, match="injected"):
        run_resumable(spark, path, out, n_buckets=4, bucket_batch=2,
                      fail_after_batches=1)  # leaves pending buckets
    with pytest.raises(ValueError, match="mismatch"):
        run_resumable(spark, other, out, n_buckets=4)
