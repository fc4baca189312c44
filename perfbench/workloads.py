"""The three workloads. The program is a black box: the benchmark calls the
public functions of its modules, times those calls, and reads Spark's event
log. Load model: a closed loop from one client -- one Spark action is
submitted at a time and the next waits for it.

Each workload provides:
  prepare()       inputs from the seed (not timed, not part of set-up)
  warm(spark)     the warm pass that, with session start, makes up set-up;
                  it is also the pass whose output is checked
  check(spark)    compares the warm pass's output, outside the timed reps
                  -> Check
  rep(spark, i)   one timed rep -> Rep
  layers(...)     per-layer metrics of the traced run
"""

from __future__ import annotations

import json
import math
import random
import re
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field
from pathlib import Path

import pyarrow.parquet as pq

import checks
import inputs
from session import CORES
from tracing import EventLog, Tracer

#: the curation queries, three of bench.py's 18 HEADLINE_QUERIES, pinned here
#: so the workload cannot shift with that file: the two build-heavy scoring
#: queries and the dedup query with the largest exec phase. All 18, cold and
#: checked in every run, would not fit the benchmark's time budget
#: (README.md).
CURATE_QUERIES = ["q_dup_ngrams", "q_quality_gate", "q_lm_quality"]

#: every per-layer metric of the traced run, (name, unit); a metric a
#: workload does not exercise reads 0 there
PER_LAYER = (
    [("payload.extract_series_us_per_turn", "us/turn")]
    + [(f"{n}_s", "s") for n in (
        "payload.json_decode", "payload.extract_pdf_turn", "payload.extract_html_turn",
        "detector.detect_pages", "kernels.nms_keep_mask", "kernels.overlap_matrix",
        "kernels.table_grid_np", "kernels.reading_order_np", "mathml.latex_to_mathml",
        "html_extract.extract_html")]
    + [(f"payload.{n}", "count") for n in (
        "turns_pdf", "turns_html", "turns_text", "pages", "regions", "error_rows")]
    + [("payload.pdf_share", "ratio"), ("payload.kernel_share_of_wall", "ratio")]
    + [("extraction.jobs", "count"), ("extraction.tasks", "count"),
       ("extraction.task_max_s", "s"), ("extraction.task_median_s", "s"),
       ("extraction.slot_busy_share", "ratio"), ("extraction.shuffle_write_bytes", "bytes"),
       ("extraction.spill_bytes", "bytes"), ("extraction.arrow_assembly_s", "s"),
       ("extraction.scaling_eff_1_4", "ratio")]
    + [(f"lineage.{n}_s", "s") for n in (
        "run_resumable", "write_job", "counters_job", "driver_other",
        "ensure_run_config", "completed_buckets")]
    + [(f"lineage.{n}", "count") for n in (
        "files_written", "buckets_committed", "buckets_resumed", "input_scans")]
    + [("lineage.bytes_written", "bytes")]
    + [(f"{q}.{p}_s", "s") for q in CURATE_QUERIES for p in ("build", "plan", "exec")]
    + [("queries.jobs", "count"), ("queries.shuffle_bytes", "bytes"),
       ("queries.spill_bytes", "bytes"), ("queries.task_max_over_median", "ratio")]
    + [(f"self.{n}_s", "s") for n in (
        "payload", "detector", "kernels", "mathml", "html_extract", "extraction",
        "lineage", "queries")]
    + [("trace.overhead_s", "s"), ("trace.overhead_share", "ratio"),
       ("host.control_s", "s"), ("check.mismatch_count", "count"),
       ("check.error_share", "ratio")]
)


@dataclass
class Rep:
    wall: float
    ok: bool = True
    calls: dict = field(default_factory=dict)  # per-call walls inside the rep
    info: dict = field(default_factory=dict)


@dataclass
class Check:
    mismatches: int
    errors: int  # error rows / failed queries
    attempted: int  # turns / queries checked


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# In-process kernel trace (extract_mixed, resume_chat)
# ---------------------------------------------------------------------------


def kernel_layers(tracer: Tracer, input_dir: Path) -> dict:
    """Run the extraction kernel closure in-process over the workload's own
    turns, with spans on the public entry points of the kernel's modules."""
    from action_pdf_accessibility_paddle_docker_spark.operators import detector, kernels, payload
    from action_pdf_accessibility_paddle_docker_spark.plans.extraction import (
        make_extraction_kernel,
    )

    tracer.wrap(payload, "extract_series", "payload.extract_series", generator=True)
    tracer.wrap(payload, "_loads", "payload.json_decode")
    tracer.wrap(payload, "extract_pdf_turn", "payload.extract_pdf_turn")
    tracer.wrap(payload, "extract_html_turn", "payload.extract_html_turn")
    tracer.wrap(payload, "latex_to_mathml", "mathml.latex_to_mathml")
    tracer.wrap(payload, "extract_html", "html_extract.extract_html")
    tracer.wrap(detector.StubDetector, "detect_pages", "detector.detect_pages")
    for fn in ("nms_keep_mask", "overlap_matrix", "table_grid_np", "reading_order_np"):
        tracer.wrap(kernels, fn, f"kernels.{fn}")
    kernel = make_extraction_kernel()
    batches = pq.read_table(input_dir).to_batches(max_chunksize=4096)
    counts = dict.fromkeys(("pdf", "html", "text"), 0)
    pages = regions = errors = turns = 0
    try:
        it = kernel(iter(batches))
        while True:
            with tracer.span("extraction.kernel"):
                out = next(it, None)
            if out is None:
                break
            turns += out.num_rows
            for k in out.column("payload_kind").to_pylist():
                counts[k] = counts.get(k, 0) + 1
            pages += sum(out.column("n_pages").to_pylist())
            regions += sum(out.column("n_regions").to_pylist())
            errors += out.num_rows - out.column("error").null_count
    finally:
        tracer.unwrap_all()
    total, own = tracer.totals()
    series = total.get("payload.extract_series", 0.0)
    m = {f"{n}_s": total.get(n, 0.0) for n in (
        "payload.json_decode", "payload.extract_pdf_turn", "payload.extract_html_turn",
        "detector.detect_pages", "kernels.nms_keep_mask", "kernels.overlap_matrix",
        "kernels.table_grid_np", "kernels.reading_order_np", "mathml.latex_to_mathml",
        "html_extract.extract_html")}
    m.update({
        "payload.extract_series_us_per_turn": series / max(turns, 1) * 1e6,
        "payload.turns_pdf": counts["pdf"],
        "payload.turns_html": counts["html"],
        "payload.turns_text": counts["text"],
        "payload.pages": pages,
        "payload.regions": regions,
        "payload.error_rows": errors,
        # PDF turns' share of kernel time: their decode + page pipeline
        "payload.pdf_share": (total.get("payload.json_decode", 0.0)
                              + total.get("payload.extract_pdf_turn", 0.0)
                              + total.get("detector.detect_pages", 0.0)) / max(series, 1e-9),
        "extraction.arrow_assembly_s": total.get("extraction.kernel", 0.0) - series,
        "self.extraction_s": own.get("extraction.kernel", 0.0),
        "self.payload_s": sum(own.get(n, 0.0) for n in (
            "payload.extract_series", "payload.json_decode", "payload.extract_pdf_turn",
            "payload.extract_html_turn")),
        "self.detector_s": own.get("detector.detect_pages", 0.0),
        "self.kernels_s": sum(v for k, v in own.items() if k.startswith("kernels.")),
        "self.mathml_s": own.get("mathml.latex_to_mathml", 0.0),
        "self.html_extract_s": own.get("html_extract.extract_html", 0.0),
        "_kernel_s": series,
    })
    return m


def extraction_jobs(log: EventLog, traced: list[Rep]) -> dict:
    """Job, task, shuffle and spill figures of the traced reps' jobs, per rep."""
    js = log.select("traced:")
    tasks = js.task_seconds()
    reps = max(len(traced), 1)
    wall = sum(r.wall for r in traced)
    return {
        "extraction.jobs": len(js.jobs) / reps,
        "extraction.tasks": len(tasks) / reps,
        "extraction.task_max_s": max(tasks, default=0.0),
        "extraction.task_median_s": median(tasks),
        "extraction.slot_busy_share": sum(tasks) / max(wall * CORES, 1e-9),
        "extraction.shuffle_write_bytes": js.shuffle_write_bytes() / reps,
        "extraction.spill_bytes": js.spill_bytes() / reps,
    }


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class Workload:
    name = ""

    def __init__(self, env, scale: inputs.Scale, seed: int):
        self.env = env
        self.scale = scale
        self.seed = seed

    def rows(self) -> int:
        raise NotImplementedError

    def instrument(self, tracer: Tracer) -> None:
        """Wrap driver-side program functions for the traced reps."""

    def traced_rep(self, spark, i: int, tracer: Tracer) -> Rep:
        return self.rep(spark, i, tag="traced")

    def end_to_end(self, reps: list[Rep]) -> dict:
        walls = [r.wall for r in reps if r.ok]
        calls: dict[str, list[float]] = {}
        for r in reps:
            if r.ok:
                for k, v in r.calls.items():
                    calls.setdefault(k, []).append(v)
        wall = median(walls)
        return {
            "wall_s": wall,
            "rows_per_s": self.rows() / wall if wall else 0.0,
            "call_geomean_s": math.exp(
                statistics.fmean(math.log(median(v)) for v in calls.values())
            ) if calls else 0.0,
        }


class ExtractMixed(Workload):
    name = "extract_mixed"

    def prepare(self) -> None:
        inputs.check_generator_canary()
        self.inp = inputs.transcripts(self.name, self.seed, self.scale)
        self.digest = self.inp.content_sha256

    def rows(self) -> int:
        return self.inp.rows

    def _df(self, spark):
        return spark.read.parquet(str(self.inp.path))

    def warm(self, spark) -> None:
        """One ordered pass over the whole input, collected for the check."""
        from action_pdf_accessibility_paddle_docker_spark.plans.extraction import build_extraction

        spark.sparkContext.setJobDescription("warm")
        self._out = build_extraction(self._df(spark), order_output=True).select(
            "conv_id", "turn_idx", "extracted_text", "n_regions", "error"
        ).collect()

    def check(self, spark) -> Check:
        rows, self._out = self._out, None
        errors = sum(r["error"] is not None for r in rows)
        bad = checks.extraction_mismatches([tuple(r)[:4] for r in rows], self.inp.oracle)
        return Check(bad, errors, len(rows))

    def rep(self, spark, i: int, tag: str = "rep") -> Rep:
        from action_pdf_accessibility_paddle_docker_spark.plans.extraction import build_extraction

        spark.sparkContext.setJobDescription(f"{tag}:{i}")
        t0 = time.perf_counter()
        _noop(build_extraction(self._df(spark), order_output=True))
        wall = time.perf_counter() - t0
        return Rep(wall, calls={"extract": wall})

    def layers(self, log: EventLog, traced: list[Rep], tracer: Tracer, untraced_wall: float) -> dict:
        m = extraction_jobs(log, traced)
        m.update(kernel_layers(tracer, self.inp.path))
        m["payload.kernel_share_of_wall"] = m.pop("_kernel_s") / (untraced_wall * CORES)
        m["extraction.scaling_eff_1_4"] = self._scaling(untraced_wall)
        return m

    def _scaling(self, wall4: float) -> float:
        """local[1] vs local[4] on the same input: speed-up over 4. The JVM
        is warm; a pass over a tenth of the input starts the new session's
        Python workers before the one timed pass."""
        from action_pdf_accessibility_paddle_docker_spark.plans.extraction import build_extraction

        self.env.stop()
        spark = self.env.start(cores=1)
        _noop(build_extraction(self._df(spark).sample(0.1, seed=1), order_output=True))
        wall1 = self.rep(spark, 0).wall
        self.env.stop()
        return wall1 / (4 * wall4)


class ResumeChat(Workload):
    name = "resume_chat"
    n_buckets = 16

    def prepare(self) -> None:
        inputs.check_generator_canary()
        self.inp = inputs.transcripts(self.name, self.seed, self.scale)
        self.digest = self.inp.content_sha256
        self.out = self.env.work / "resume"

    def rows(self) -> int:
        return self.inp.rows

    def _cycle(self, spark, src: Path, root: Path) -> tuple[dict, dict]:
        """One crash + resume cycle into a fresh root: (call walls, summary)."""
        from action_pdf_accessibility_paddle_docker_spark.plans import lineage

        kw = dict(n_buckets=self.n_buckets, bucket_batch=self.n_buckets // 2)
        t0 = time.perf_counter()
        try:
            lineage.run_resumable(spark, str(src), str(root), fail_after_batches=1, **kw)
            raise RuntimeError("run_resumable did not stop at the injected failure")
        except RuntimeError as e:
            if "injected failure" not in str(e):
                raise
        t1 = time.perf_counter()
        summary = lineage.run_resumable(spark, str(src), str(root), **kw)
        t2 = time.perf_counter()
        return {"crash": t1 - t0, "resume": t2 - t1}, summary

    def warm(self, spark) -> None:
        """One crash + resume cycle over the whole input, kept for the check."""
        spark.sparkContext.setJobDescription("warm")
        self._root = self.out / "check"
        shutil.rmtree(self._root, ignore_errors=True)
        _, self._summary = self._cycle(spark, self.inp.path, self._root)

    def check(self, spark) -> Check:
        """The warm cycle's written output against its input."""
        bad = checks.resume_mismatches(self.inp.path, self._root / "data")
        shutil.rmtree(self._root, ignore_errors=True)
        return Check(bad, self._summary["errors"], self.inp.rows)

    def rep(self, spark, i: int, tag: str = "rep") -> Rep:
        root = self.out / f"rep-{i}"
        shutil.rmtree(root, ignore_errors=True)
        spark.sparkContext.setJobDescription(f"{tag}:{i}")
        calls, summary = self._cycle(spark, self.inp.path, root)
        wall = calls["crash"] + calls["resume"]
        info = {
            "summary": summary,
            "files": [p.stat().st_size for p in (root / "data").rglob("*.parquet")],
            "buckets_committed": len(list((root / "_lineage").glob("bucket_*.json"))),
        }
        ok = summary["errors"] == 0 and summary["resumed_buckets"] == self.n_buckets // 2
        shutil.rmtree(root, ignore_errors=True)
        return Rep(wall, ok, calls, info)

    def instrument(self, tracer: Tracer) -> None:
        from action_pdf_accessibility_paddle_docker_spark.plans import lineage

        tracer.wrap(lineage, "run_resumable", "lineage.run_resumable")
        tracer.wrap(lineage, "ensure_run_config", "lineage.ensure_run_config")
        tracer.wrap(lineage, "completed_buckets", "lineage.completed_buckets")

    def layers(self, log: EventLog, traced: list[Rep], tracer: Tracer, untraced_wall: float) -> dict:
        n = max(len(traced), 1)
        total, own = tracer.totals()
        execs = log.executions_for("traced:")
        writes = [x for x in execs if "InsertIntoHadoopFsRelationCommand" in x["plan"]]
        others = [x for x in execs if x not in writes]
        job_s = log.select("traced:").job_seconds()
        m = {
            "lineage.run_resumable_s": total.get("lineage.run_resumable", 0.0) / n,
            "lineage.ensure_run_config_s": total.get("lineage.ensure_run_config", 0.0) / n,
            "lineage.completed_buckets_s": total.get("lineage.completed_buckets", 0.0) / n,
            "lineage.write_job_s": sum(x["end"] - x["start"] for x in writes) / n,
            "lineage.counters_job_s": sum(x["end"] - x["start"] for x in others) / n,
            "lineage.driver_other_s": (sum(r.wall for r in traced) - job_s) / n,
            "lineage.input_scans": len(writes) / n,
            "self.lineage_s": sum(v for k, v in own.items() if k.startswith("lineage.")) / n,
        }
        last = next((r.info for r in reversed(traced) if r.ok), None)
        if last is not None:
            m.update({
                "lineage.files_written": len(last["files"]),
                "lineage.bytes_written": sum(last["files"]),
                "lineage.buckets_committed": last["buckets_committed"],
                "lineage.buckets_resumed": last["summary"]["resumed_buckets"],
            })
        m.update(extraction_jobs(log, traced))
        tracer.spans.clear()
        m.update(kernel_layers(tracer, self.inp.path))
        m["payload.kernel_share_of_wall"] = m.pop("_kernel_s") / (untraced_wall * CORES)
        return m


class CurateSf(Workload):
    name = "curate_sf0.1"

    def prepare(self) -> None:
        from action_pdf_accessibility_paddle_docker_spark.plans.queries import REGISTRY

        self.registry = REGISTRY
        self.table_dir, self.digest = inputs.curation_tables(self.scale)
        self.order = random.Random(self.seed).sample(CURATE_QUERIES, len(CURATE_QUERIES))
        cache = inputs.CACHE / f"v{inputs.INPUT_VERSION}" / f"duckdb-{self.digest[:24]}.json"
        if cache.exists():
            self.expected = json.loads(cache.read_text())
        else:
            self.expected = checks.duckdb_expected(
                self.table_dir, {q: REGISTRY[q][1] for q in CURATE_QUERIES}
            )
            cache.write_text(json.dumps(self.expected))
        sizes = {t: pq.ParquetFile(self.table_dir / f"{t}.parquet").metadata.num_rows
                 for t in inputs.TABLES}
        # rows the suite reads: each query's tables, from its oracle SQL
        self._rows = sum(
            sizes[t] for q in CURATE_QUERIES for t in inputs.TABLES
            if _mentions(REGISTRY[q][1], t)
        )

    def rows(self) -> int:
        return self._rows

    def _build(self, q: str, spark):
        return self.registry[q][0](spark, str(self.table_dir))

    def warm(self, spark) -> None:
        """The cold suite, each query's rows collected for the check."""
        self._out = {}
        for q in self.order:
            spark.sparkContext.setJobDescription(f"warm:{q}")
            try:
                df = self._build(q, spark)
                self._out[q] = (df.columns, df.collect())
            except Exception as e:  # noqa: BLE001 -- a failed query is counted, not fatal
                print(f"perfbench: {q} failed: {type(e).__name__}: {e}", file=sys.stderr)

    def check(self, spark) -> Check:
        out, self._out = self._out, None
        bad = sum(list(checks.rows_digest(*out[q])) != self.expected[q] for q in out)
        return Check(bad, len(self.order) - len(out), len(self.order))

    def rep(self, spark, i: int) -> Rep:
        calls = {}
        for q in self.order:
            spark.sparkContext.setJobDescription(f"rep:{i}:{q}")
            t0 = time.perf_counter()
            _noop(self._build(q, spark))
            calls[q] = time.perf_counter() - t0
        return Rep(sum(calls.values()), calls=calls)

    def traced_rep(self, spark, i: int, tracer: Tracer) -> Rep:
        calls = {}
        for q in self.order:
            spark.sparkContext.setJobDescription(f"traced:{i}:{q}")
            t0 = time.perf_counter()
            with tracer.span(f"{q}.build"):
                df = self._build(q, spark)
            with tracer.span(f"{q}.plan"):
                df._jdf.queryExecution().executedPlan()
            with tracer.span(f"{q}.exec"):
                _noop(df)
            calls[q] = time.perf_counter() - t0
        return Rep(sum(calls.values()), calls=calls)

    def layers(self, log: EventLog, traced: list[Rep], tracer: Tracer, untraced_wall: float) -> dict:
        n = max(len(traced), 1)
        total, own = tracer.totals()
        js = log.select("traced:")
        tasks = js.task_seconds()
        m = {f"{name}_s": v / n for name, v in total.items() if name.startswith("q_")}
        m.update({
            "queries.jobs": len(js.jobs) / n,
            "queries.shuffle_bytes": js.shuffle_write_bytes() / n,
            "queries.spill_bytes": js.spill_bytes() / n,
            "queries.task_max_over_median": max(tasks, default=0.0) / max(median(tasks), 1e-9),
            "self.queries_s": sum(v for k, v in own.items() if k.startswith("q_")) / n,
        })
        return m


def _mentions(sql: str, table: str) -> bool:
    return re.search(rf"\b{table}\b", sql) is not None


WORKLOADS = {w.name: w for w in (ExtractMixed, ResumeChat, CurateSf)}
