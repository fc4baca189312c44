"""Per-partition lineage + counters, and checkpoint-resumable runs.

north_rule: "every stage writes per-partition lineage + counters to enable
checkpoint-resumable restarts".

The extraction kernel stamps every row with the executor partition id and
per-row counters (n_regions, n_artifacts, n_pages, error);
``lineage_metrics`` reduces those to one row per partition. ``run_bucketed``
is the one crash-safe bucket-commit loop: ``run_resumable`` (extraction) and
``jobs/corpus_job.run_pipeline_resumable`` (curation) only build its input,
transform and run config. Its docstring states the protocol.
"""

from __future__ import annotations

import json
import re
import time
from typing import Any, Callable

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from .extraction import build_extraction


def _extraction_counters() -> dict[str, tuple[Column, Any]]:
    """name -> (aggregate over extracted rows, value when there are none)."""
    return {
        "turns": (F.count(F.lit(1)), 0),
        "regions": (F.sum("n_regions"), 0),
        "artifacts": (F.sum("n_artifacts"), 0),
        "pages": (F.sum("n_pages"), 0),
        "errors": (F.count(F.when(F.col("error").isNotNull(), 1)), 0),
        "min_conv_id": (F.min("conv_id"), None),
        "max_conv_id": (F.max("conv_id"), None),
    }


def lineage_metrics(extracted: DataFrame) -> DataFrame:
    """Reduce kernel-stamped rows to one lineage row per executor partition."""
    return extracted.groupBy("part_id").agg(
        *(agg.alias(k) for k, (agg, _) in _extraction_counters().items())
    )


def bucket_expr(n_buckets: int):
    return F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")


# ---------------------------------------------------------------------------
# Lineage records via the Hadoop FileSystem API (works for file://, hdfs://,
# s3a://, ... -- driver-local os.* would silently see an empty dir on a
# cluster with a remote output root).
# ---------------------------------------------------------------------------


def _fs_and_path(spark: SparkSession, path: str):
    hpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _lineage_dir(output_root: str) -> str:
    return output_root.rstrip("/") + "/_lineage"


#: a real lineage record is always bucket_<int>.json by construction
_BUCKET_FILE_RE = re.compile(r"^bucket_(\d+)\.json$")


def _active_spark() -> SparkSession:
    spark = SparkSession.getActiveSession()
    if spark is None:
        raise RuntimeError("no active SparkSession for lineage filesystem access")
    return spark


def _read_json(spark: SparkSession, path: str) -> Any:
    """The JSON document at ``path``, or None when no file is there."""
    fs, hpath = _fs_and_path(spark, path)
    if not fs.exists(hpath):
        return None
    stream = fs.open(hpath)
    try:
        data = bytes(spark._jvm.org.apache.commons.io.IOUtils.toByteArray(stream))
    finally:
        stream.close()
    return json.loads(data.decode("utf-8"))


def _write_json_atomic(spark: SparkSession, path: str, obj: Any) -> None:
    """Commit ``obj`` to ``path`` all at once: write a hidden sibling, then
    rename it over ``path``, so a crash never leaves a torn record."""
    fs, final = _fs_and_path(spark, path)
    parent = final.getParent()
    fs.mkdirs(parent)
    tmp = spark._jvm.org.apache.hadoop.fs.Path(parent, f".{final.getName()}.tmp")
    stream = fs.create(tmp, True)
    try:
        stream.write(bytearray(json.dumps(obj, sort_keys=True).encode("utf-8")))
    finally:
        stream.close()
    if fs.exists(final):
        fs.delete(final, False)
    # Hadoop FileSystem.rename reports failure by RETURNING false, not by
    # raising; ignoring it would leave a bucket uncommitted while the run
    # proceeds -- unbounded re-extraction on every future resume
    if not fs.rename(tmp, final):
        raise IOError(f"lineage commit rename failed: {tmp} -> {final}")


def _bucket_files(spark: SparkSession, output_root: str):
    """(bucket, path) of every committed lineage record."""
    fs, d = _fs_and_path(spark, _lineage_dir(output_root))
    if not fs.exists(d):
        return []
    out = []
    for status in fs.listStatus(d):
        # strict match: debris like 'bucket_3 (1).json' (editor save-as,
        # object-store copy tools) must be IGNORED, not crash int() and
        # brick every subsequent resume
        m = _BUCKET_FILE_RE.match(status.getPath().getName())
        if m:
            out.append((int(m.group(1)), status.getPath().toString()))
    return out


def completed_buckets(output_root: str, spark: SparkSession | None = None) -> set[int]:
    return {b for b, _ in _bucket_files(spark or _active_spark(), output_root)}


def read_lineage(output_root: str, spark: SparkSession | None = None) -> dict[int, dict]:
    """All committed per-bucket lineage records,
    each ``{"bucket", "counters", "committed_at"}``."""
    spark = spark or _active_spark()
    return {b: _read_json(spark, p) for b, p in _bucket_files(spark, output_root)}


def ensure_run_config(
    output_root: str, config: dict, spark: SparkSession | None = None
) -> None:
    """Pin the parameters that define what a bucket index MEANS across
    resume cycles. Lineage records carry only bucket indices, so resuming
    with a different ``--buckets``, stage set, or bucket-key kind would
    silently skip the WRONG buckets and leave stale partitions from the
    old keying in <output>/data (dynamic overwrite never clears dirs it
    does not write) -- duplicated or missing rows with no error.

    First run commits ``config`` atomically to
    ``<output>/_lineage/run_config.json``; every later run must present an
    EQUAL dict or this raises with both versions. Call before reading
    ``completed_buckets``.

    The comparison is JSON-CANONICAL: the stored config went through a JSON
    round trip (int dict keys become strings, tuples become lists), so the
    current invocation's dict is normalized the same way first -- otherwise
    an IDENTICAL rerun whose thresholds use int keys would spuriously
    mismatch (caught live driving extract_job --resumable)."""
    config = json.loads(json.dumps(config, sort_keys=True))
    spark = spark or _active_spark()
    path = _lineage_dir(output_root) + "/run_config.json"
    stored = _read_json(spark, path)
    if stored is not None:
        if stored != config:
            raise ValueError(
                "resume configuration mismatch: this output was started "
                f"with {stored!r} but the current invocation is "
                f"{config!r}; resume with the original parameters or use "
                "a fresh output path"
            )
        return
    # No pinned config but bucket records exist: a pre-pinning (or
    # sabotaged) output. Adopting the CURRENT invocation's config would
    # bless exactly the mis-keyed resume this guard exists to block (a
    # --buckets 8 resume of a --buckets 4 output would commit 8 as truth,
    # skip buckets 0-3 under the NEW keying, and leave the old pmod-4
    # partitions in place -- silent duplicates). Refuse; migration is the
    # user writing the ORIGINAL parameters to run_config.json by hand.
    pre_existing = completed_buckets(output_root, spark)
    if pre_existing:
        raise ValueError(
            f"output {output_root!r} carries {len(pre_existing)} committed "
            "bucket records but no run_config.json (written before "
            "run-config pinning, or the pin was deleted); resuming cannot "
            "verify the bucket keying. Either restart with a fresh output "
            "path, or -- if the original parameters are known -- write "
            f"them to {path} "
            f"(this invocation would have pinned {config!r})"
        )
    _write_json_atomic(spark, path, config)


def _delete_bucket_dirs(
    spark: SparkSession, data_root: str, buckets: list[int]
) -> None:
    """Remove the Hive partition dirs of PENDING buckets before their batch
    rewrite (see the call site). No-op for dirs that do not exist."""
    fs, _ = _fs_and_path(spark, data_root)
    for b in buckets:
        fs.delete(
            spark._jvm.org.apache.hadoop.fs.Path(
                data_root.rstrip("/") + f"/bucket={int(b)}"
            ),
            True,
        )


def _per_bucket_counters(
    spark: SparkSession, written: str, buckets: list[int],
    counters: dict[str, tuple[Column, Any]], is_table: bool,
) -> dict[int, dict]:
    """Aggregate the just-written output per bucket (partition-pruned read of
    tiny columns -- NOT a re-execution of the transform). When every row of
    the batch was dropped upstream the data root may not exist at all
    (dynamic overwrite writes no dirs): that ONE case returns {} so the
    zero-row lineage records still commit and resume skips -- any OTHER read
    failure (transient storage error) propagates, because committing rows=0
    over intact data would corrupt the lineage metadata permanently."""
    from pyspark.errors import AnalysisException

    try:
        src = spark.read.table(written) if is_table else spark.read.parquet(written)
    except AnalysisException:
        return {}
    rows = (
        src.where(F.col("bucket").isin(buckets))
        .groupBy("bucket")
        .agg(*(agg.alias(k) for k, (agg, _) in counters.items()))
        .collect()
    )
    return {int(r["bucket"]): {k: r[k] for k in counters} for r in rows}


def run_bucketed(
    spark: SparkSession,
    bucketed: DataFrame,
    output_root: str,
    run_config: dict,
    *,
    n_buckets: int,
    bucket_batch: int | None,
    transform: Callable[[DataFrame], DataFrame],
    order: tuple[str, ...],
    counters: dict[str, tuple[Column, Any]],
    iceberg_table: str | None = None,
    fail_after_batches: int | None = None,
) -> tuple[dict, dict[int, dict]]:
    """The crash-safe bucket-commit loop behind every resumable run.

    ``bucketed`` carries an int ``bucket`` column in ``[0, n_buckets)``;
    ``transform`` maps a bucket-filtered slice of it to output rows that
    keep ``bucket``. Output lands under ``<output_root>/data`` partitioned by
    bucket (or in ``iceberg_table``), lineage under ``<output_root>/_lineage``.
    Returns ``({"resumed_buckets", "ran_buckets", "input_scans"}, {bucket:
    counters})`` for the buckets this call wrote.

    Protocol:

    * ``ensure_run_config`` pins ``run_config`` -- everything a bucket
      index's meaning depends on -- before ``completed_buckets`` is read.
    * Pending buckets are written ``bucket_batch`` at a time; None puts ALL
      of them in one ``partitionBy("bucket")`` pass, exactly ONE input scan
      per resume cycle. A batch size bounds crash recomputation at the cost
      of one input scan per batch.
    * Each batch is hash-partitioned on ``(bucket, order[0])`` and sorted by
      ``(bucket, *order)`` -- NOT one partition per bucket (that would
      serialize a 1.5 TB bucket's sort at 100 TB / 64 buckets) and NOT
      repartitionByRange (its boundary sampling re-executes the transform).
      Every ``order[0]`` group (a conversation, a document) lands whole in
      one task, and per-bucket files come out in a stable order.
    * Parquet: the batch's pending partition dirs are deleted first, then
      written with dynamic partition overwrite. Dynamic overwrite only
      replaces partitions it writes rows to, so a crashed attempt's rows
      would otherwise survive a re-run that now yields ZERO rows for that
      bucket (committed lineage over stale data). Deleting pending dirs is
      safe: their lineage never committed. Iceberg: one atomic
      ``overwritePartitions()`` snapshot per batch
      (``sinks.overwrite_buckets_iceberg``).
    * After the write, ``counters`` (name -> (aggregate, value for an empty
      bucket)) are aggregated per bucket from the WRITTEN data -- a retried
      task cannot double-count them, unlike ``observe()``.
    * Only then is each bucket's record ``{"bucket", "counters",
      "committed_at"}`` committed (atomic create+rename). A restart skips
      committed buckets: exactly-once per bucket despite crashes between
      batches.

    ``fail_after_batches`` is a test hook: raise after N batches to simulate
    a crash; the next call resumes from the lineage records.

    Residual (single-writer assumption): nothing FENCES two drivers resuming
    the same output root concurrently -- a stalled-but-alive driver A and a
    replacement driver B can interleave dynamic-overwrite commits on the
    same bucket dirs, leaving data that does not match the committed
    lineage. A robust fence needs storage-level conditional writes (HDFS
    lease / S3 conditional PUT); a plain lock file cannot distinguish a
    crashed holder from a stalled one without a heartbeat protocol. Run one
    resuming driver per output root.
    """
    ensure_run_config(output_root, run_config, spark)
    done = completed_buckets(output_root, spark)
    pending = [b for b in range(n_buckets) if b not in done]
    data_root = output_root.rstrip("/") + "/data"
    step = bucket_batch or max(1, len(pending))
    empty = {k: zero for k, (_, zero) in counters.items()}
    summary = {"resumed_buckets": len(done), "ran_buckets": 0, "input_scans": 0}
    ran: dict[int, dict] = {}

    for n_done, first in enumerate(range(0, len(pending), step)):
        if fail_after_batches is not None and n_done >= fail_after_batches:
            raise RuntimeError(f"injected failure after {n_done} batches")
        batch = pending[first:first + step]
        src = bucketed
        if len(batch) < n_buckets:
            src = src.filter(F.col("bucket").isin(batch))
        n_write = max(len(batch), spark.sparkContext.defaultParallelism)
        out = transform(src).repartition(
            n_write, "bucket", order[0]
        ).sortWithinPartitions("bucket", *order)
        if iceberg_table is not None:
            from .sinks import overwrite_buckets_iceberg

            overwrite_buckets_iceberg(out, iceberg_table, batch)
        else:
            _delete_bucket_dirs(spark, data_root, batch)
            (
                out.write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("bucket")
                .parquet(data_root)
            )
        summary["input_scans"] += 1
        stamp = time.time()
        got = _per_bucket_counters(
            spark, iceberg_table or data_root, batch, counters,
            is_table=iceberg_table is not None,
        )
        for b in batch:
            ran[b] = got.get(b, empty)
            _write_json_atomic(
                spark, f"{_lineage_dir(output_root)}/bucket_{b}.json",
                {"bucket": b, "counters": ran[b], "committed_at": stamp},
            )
        summary["ran_buckets"] += len(batch)
    return summary, ran


def run_resumable(
    spark: SparkSession,
    input_path: str,
    output_root: str,
    n_buckets: int = 64,
    bucket_batch: int | None = None,
    thresholds: dict[int, float] | None = None,
    fail_after_batches: int | None = None,
    iceberg_table: str | None = None,
    detector_kind: str = "stub",
    detector_kw: dict | None = None,
) -> dict:
    """Checkpoint-resumable extraction run (``run_bucketed`` over
    ``pmod(xxhash64(conv_id), n_buckets)`` buckets -- a conversation never
    straddles buckets, so per-bucket (conv_id, turn_idx) order gives stable
    per-conv output). Returns a summary dict; ``turns``/``errors`` sum the
    per-bucket counters of the buckets this call wrote.

    bucket_batch=None (default) writes every pending bucket in one pass:
    exactly ONE scan of the input per resume cycle (summary["input_scans"]
    reports it).

    iceberg_table: when set (and the Iceberg runtime is on the classpath),
    bucket data commits through ``overwritePartitions()`` -- one ATOMIC
    snapshot per batch with snapshot isolation (K1 parity, SURVEY section
    4.2) -- instead of parquet dynamic partition overwrite. Lineage JSON
    stays under output_root either way.

    fail_after_batches: test hook -- raise after N batches to simulate a
    crash; a subsequent call resumes from the lineage records.
    """
    def transform(part: DataFrame) -> DataFrame:
        return build_extraction(
            part.drop("bucket"), thresholds=thresholds, order_output=False,
            detector_kind=detector_kind, detector_kw=detector_kw,
        ).withColumn("bucket", bucket_expr(n_buckets))

    summary, ran = run_bucketed(
        spark,
        spark.read.parquet(input_path).withColumn("bucket", bucket_expr(n_buckets)),
        output_root,
        {
            "kind": "extraction",
            "n_buckets": int(n_buckets),
            "bucket_key": "conv_id",
            "iceberg_table": iceberg_table,
            # row-set-shaping parameters: committed buckets keep the values
            # they ran under, so a resume under different ones would yield
            # an inconsistent corpus with no error (review finding). The
            # input path is pinned for the same reason -- buckets 0..k of
            # input A plus k+1.. of input B is a silent cross-corpus mix
            # AND a data loss (input-B rows hashing into 0..k never write).
            "input": input_path,
            "thresholds": thresholds,
            "detector": "%s:%s" % (
                detector_kind,
                sorted((detector_kw or {}).items()),
            ),
        },
        n_buckets=n_buckets,
        bucket_batch=bucket_batch,
        transform=transform,
        order=("conv_id", "turn_idx"),
        counters=_extraction_counters(),
        iceberg_table=iceberg_table,
        fail_after_batches=fail_after_batches,
    )
    summary["turns"] = sum(c["turns"] for c in ran.values())
    summary["errors"] = sum(c["errors"] for c in ran.values())
    return summary
