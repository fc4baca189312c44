#!/usr/bin/env python
"""Training-corpus curation job: the LLM-data-pipeline operators as one
spark-submit surface over a documents table (doc_id, text, ...).

Stage order mirrors a production curation run (each stage optional):

  urlfilter drop documents whose registered domain is blocklisted
           (--url-col + --blocked-domains FILE; RefinedWeb-style, the
           cheapest exclusion signal -- runs before any text pass)
  urldedup keep ONE document per canonical URL (normalize_url: fragment/
           tracking-param/port/www normalization; min-id survives;
           unparseable URLs pass through)
  clean    C4-style line filter (drop boilerplate lines + gated docs)
  linededup corpus-wide exact duplicate-LINE removal (RefinedWeb/
           MassiveText): the first occurrence (min doc_id, line_idx)
           of any >=--line-min-chars line survives, later copies are
           removed from their documents, text reassembled in order;
           --linededup-unit paragraph switches the dedup key to the
           \n\n-delimited paragraph (Dolma-style)
  spandedup corpus-wide exact duplicate-SPAN removal (Lee et al. 2021
           ExactSubstr): every duplicated run of >= --span-k whitespace
           tokens is removed except its corpus-first occurrence
           (min doc_id, position); modified docs are rejoined with
           single spaces, untouched docs pass through byte-exact.
           Incremental (CDC) mode: --seen-grams <k-stamped gram table>
           + --new-grams <appendix side path> -- the shard loses every
           corpus-seen span plus its own internal duplicates, and the
           corpus is never rescanned
  pii      redact emails / IPv4 / payment cards / SSNs / intl + dashed
           phones in place
  gate     composed quality gate (length / punct / stopword / repetition)
  classify model-based quality filter (fastText/DCLM-style): score every
           doc under a trained linear model (--clf-weights, written by
           jobs/train_clf_job.py) and keep docs scoring >= --clf-threshold
  dedup    exact dedup (min-id canonical survives) or incremental vs a
           persisted fingerprint table (--seen-fps parquet dir + --new-fps
           appendix, or --fps-table: a catalog table BUCKETED on the
           fingerprint so the corpus-sized state never re-shuffles and the
           appendix lands in place)
  neardup  MinHash-LSH near-duplicate removal: connected components over
           the candidate graph, keep the min-id canonical per cluster
           (--hash-family md5mix|md5|xxhash64 picks the signature family)
  semdedup SemDeDup-style semantic dedup over an embedding column
           (--embeddings side table or --embedding-col on the input):
           KMeans coarse cells -> within-cell cosine pairs -> keep the
           min-id representative per semantic group; --semdedup-cap N
           adds the paper's cluster-balanced diversity cap (at most N
           survivors per cell)
  decontam benchmark decontamination (--benchmark <parquet>): drop
           training docs whose distinct-bigram overlap with any benchmark
           doc covers >= --decontam-overlap of the training doc's
           shingles (the n-gram test-set-leak check a corpus runs
           before it ships)
  cap      per-source document cap (--cap-per-source N; anti-dominance)
  split    stable train/val/test assignment column
  sample   deterministic per-source keep rates (--rate src=0.5, repeatable)

Examples:
  spark-submit --py-files pkg.zip jobs/corpus_job.py \
      --input /data/documents --output /data/curated \
      --stages clean,pii,gate,dedup,split

  # incremental shard against the running fingerprint table
  spark-submit --py-files pkg.zip jobs/corpus_job.py \
      --input /data/shard42 --output /data/curated_shard42 \
      --stages dedup --seen-fps /data/fingerprints --new-fps /data/fp42

  # checkpoint-resumable run: per-bucket lineage under <output>/_lineage,
  # data under <output>/data partitioned by bucket; reruns skip
  # completed buckets (per-document stages + exact dedup only)
  spark-submit --py-files pkg.zip jobs/corpus_job.py \
      --input /data/documents --output /data/curated \
      --resumable --buckets 256 --stages clean,pii,gate,dedup,split
"""

from __future__ import annotations

import argparse
import json
import os
import sys

_repo_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if _repo_root not in sys.path:
    sys.path.insert(0, _repo_root)

STAGES = ("urlfilter", "urldedup", "clean", "linededup", "spandedup", "pii",
          "gate", "classify", "dedup", "neardup", "semdedup", "decontam",
          "cap", "split", "sample")

# Stages whose bucket-local result equals the global result, so a
# --resumable run can process hash buckets independently: clean / pii /
# gate / split / sample are deterministic per-document projections,
# classify is per-document given FIXED weights (score = f(text, model)),
# and EXACT dedup becomes bucket-local-safe because the resumable path
# keys the bucket on the dedup fingerprint itself (every duplicate group
# lands whole in one bucket). Everything else (neardup, semdedup,
# decontam, cap, temperature mixing, incremental dedup) aggregates
# ACROSS buckets.
RESUMABLE_STAGES = ("urlfilter", "clean", "pii", "gate", "classify",
                    "dedup", "split", "sample")


def main() -> None:
    ap = argparse.ArgumentParser(description="Training-corpus curation job")
    ap.add_argument("--input", required=True, help="documents parquet path")
    ap.add_argument("--output", required=True, help="curated output path")
    ap.add_argument("--stages", default="clean,pii,gate,dedup,split",
                    help=f"comma list from {','.join(STAGES)}, applied in the "
                         "canonical order regardless of listing order")
    ap.add_argument("--id-col", default="doc_id")
    ap.add_argument("--text-col", default="text")
    ap.add_argument("--url-col", default="url",
                    help="urlfilter/urldedup: column holding the document's "
                         "source URL")
    ap.add_argument("--url-keep", default="min_id",
                    choices=("min_id", "longest"),
                    help="urldedup keep policy: min_id (exact_dedup's "
                         "canonical rule) or longest (recrawls: the "
                         "fullest capture of a URL supersedes; ties by "
                         "min id)")
    ap.add_argument("--blocked-domains", default=None, metavar="FILE",
                    help="urlfilter: newline-separated registered domains to "
                         "drop (read driver-side; bounded -- compiled to one "
                         "isin literal, zero joins)")
    ap.add_argument("--min-kept-lines", type=int, default=3)
    ap.add_argument("--line-min-chars", type=int, default=30,
                    help="linededup: only lines this long (trimmed) are "
                         "dedup keys; shorter lines always survive")
    ap.add_argument("--linededup-unit", default="line",
                    choices=("line", "paragraph"),
                    help="linededup granularity: 'line' splits on \\n "
                         "(RefinedWeb/MassiveText), 'paragraph' on \\n\\n "
                         "(Dolma-style paragraph dedup -- single newlines "
                         "inside a paragraph stay intact)")
    ap.add_argument("--span-k", type=int, default=50,
                    help="spandedup: minimum duplicated run length in "
                         "whitespace tokens (Lee et al. 2021 use 50); "
                         "shorter repeats always survive")
    ap.add_argument("--seen-grams", default=None, metavar="DIR",
                    help="spandedup: persisted corpus span-gram table "
                         "(parquet, built by dedup.span_gram_table, "
                         "k-stamped) -- incremental mode: the shard loses "
                         "every corpus-seen span plus its own internal "
                         "duplicates; no corpus rescan")
    ap.add_argument("--new-grams", default=None, metavar="DIR",
                    help="spandedup incremental: side path for the shard's "
                         "unseen-gram appendix; union into --seen-grams "
                         "after the output commits")
    ap.add_argument("--cap-by-domain", action="store_true",
                    help="cap: stratify by the registered domain derived "
                         "from --url-col (the RefinedWeb per-domain "
                         "anti-dominance cap) instead of --stratum-col")
    ap.add_argument("--shuffle-output", default=None, metavar="SALT",
                    help="write the curated output in a deterministic "
                         "global shuffle order (rows ordered by "
                         "md5('shuffle:'||salt||':'||id) -- the "
                         "reproducible training-order permutation; a new "
                         "salt is a new epoch order). Exclusive with "
                         "--partition-output-by/--output-files")
    ap.add_argument("--clf-weights", default=None,
                    help="classify: trained model artifact (parquet written "
                         "by jobs/train_clf_job.py / save_classifier); "
                         "required with the classify stage")
    ap.add_argument("--clf-threshold", type=float, default=0.5,
                    help="classify: keep docs with sigmoid score >= this")
    ap.add_argument("--clf-top-frac", type=float, default=None,
                    help="classify: instead of the fixed threshold, keep "
                         "the TOP fraction of docs by classifier score "
                         "(the DCLM selection rule; calibration-free). "
                         "Batch-only: the cutpoint is a GLOBAL quantile")
    ap.add_argument("--seen-fps", default=None,
                    help="dedup: persisted fingerprint table (parquet); when "
                         "set, dedup is INCREMENTAL against it")
    ap.add_argument("--new-fps", default=None,
                    help="dedup: where to write the fingerprints this shard "
                         "adds (required with --seen-fps)")
    ap.add_argument("--fps-table", default=None, metavar="NAME",
                    help="dedup: catalog name of a BUCKETED fingerprint "
                         "table (created on first use; bucketBy on "
                         "fingerprint). Incremental like --seen-fps, but "
                         "the corpus-sized state side of the anti-join is "
                         "read pre-partitioned -- no corpus shuffle per "
                         "shard, ever -- and the shard's new fingerprints "
                         "are APPENDED in place (safe: materialized before "
                         "the insert). Enables Hive catalog support so the "
                         "table outlives the job (locally a derby metastore "
                         "in the driver's cwd -- run shards from one "
                         "directory; on a cluster the shared metastore). "
                         "Exclusive with --seen-fps/--new-fps")
    ap.add_argument("--fps-method", default="join", choices=("join", "probe"),
                    help="incremental dedup cross-corpus strategy: 'join' "
                         "(LeftAnti; pair with --fps-table so the corpus "
                         "side never re-shuffles) or 'probe' (broadcast the "
                         "shard's fingerprints, stream the corpus map-only, "
                         "anti-join the broadcast hit set back -- zero "
                         "corpus shuffle/sort; requires the shard's "
                         "distinct fingerprints to fit a broadcast)")
    ap.add_argument("--fps-key", default="content",
                    choices=("content", "url"),
                    help="incremental dedup key: 'content' (normalized-"
                         "text md5) or 'url' (canonical-URL md5 from "
                         "--url-col; the recrawl case -- one capture per "
                         "URL across the corpus's lifetime; unparseable "
                         "URLs fall back to a salted content hash)")
    ap.add_argument("--fps-buckets", type=int, default=256,
                    help="fps-table: bucket count, fixed at creation; size "
                         "for the TARGET corpus (it pins the anti-join "
                         "parallelism for the table's lifetime)")
    ap.add_argument("--rate", action="append", default=[], metavar="SOURCE=RATE",
                    help="sample: per-source keep rate, e.g. --rate web=0.1")
    ap.add_argument("--mix-temperature", type=float, default=None, metavar="T",
                    help="sample: derive per-source rates from "
                         "temperature-flattened source shares (mT5-style "
                         "p^(1/T) mixing; T=1 natural, larger T -> more "
                         "uniform across sources) instead of explicit "
                         "--rate flags; batch-only (needs a corpus-wide "
                         "per-source aggregate)")
    ap.add_argument("--mix-keep-frac", type=float, default=1.0,
                    help="sample: overall keep fraction the temperature "
                         "mix targets (default 1.0)")
    ap.add_argument("--default-rate", type=float, default=1.0)
    ap.add_argument("--stratum-col", default="source")
    ap.add_argument("--cap-per-source", type=int, default=10000,
                    help="cap: max documents kept per --stratum-col value "
                         "(rate method -- approximate, windowless, skew-proof)")
    ap.add_argument("--partition-output-by", default=None, metavar="COL",
                    help="write the curated output partitioned by this "
                         "column (e.g. source): downstream per-domain reads "
                         "become partition-pruned scans instead of full "
                         "corpus reads")
    ap.add_argument("--output-files", type=int, default=0,
                    help="repartition to N output files per partition-dir "
                         "before the write (0 = leave the plan's "
                         "partitioning). At warehouse scale this is the "
                         "small-files control: a 32-task shuffle writing "
                         "per-source dirs otherwise emits up to 32 tiny "
                         "files per source")
    ap.add_argument("--seen-buckets", default=None,
                    help="neardup: persisted MinHash band-bucket table "
                         "(parquet); when set, neardup is INCREMENTAL -- "
                         "the arriving shard is collapsed within itself, "
                         "then its canonicals are dropped on any bucket "
                         "hit against the corpus (never re-signatured)")
    ap.add_argument("--new-buckets", default=None,
                    help="neardup: where to write the bucket rows this "
                         "shard adds (required with --seen-buckets)")
    ap.add_argument("--embeddings", default=None,
                    help="semdedup: parquet side table of (<id-col>, "
                         "<embedding-col>) rows; omitted = the input "
                         "table itself carries the embedding column. "
                         "Rows of the corpus without an embedding row "
                         "are DROPPED by the stage (no embedding -> no "
                         "semantic identity)")
    ap.add_argument("--embedding-col", default="embedding",
                    help="semdedup: array<float/double> column name")
    ap.add_argument("--embedding-id-col", default=None,
                    help="semdedup: id column name IN the --embeddings "
                         "side table when it differs from --id-col (e.g. "
                         "vec_id); renamed on read so the join lines up")
    ap.add_argument("--semdedup-threshold", type=float, default=0.9,
                    help="semdedup: within-cell cosine at or above which "
                         "two docs are one semantic group")
    ap.add_argument("--semdedup-clusters", type=int, default=16,
                    help="semdedup: KMeans coarse-cell count; grow with "
                         "corpus size to keep cells bounded (the pair "
                         "join is quadratic IN THE CELL)")
    ap.add_argument("--semdedup-cap", type=int, default=0,
                    help="semdedup: keep at most N survivors per coarse "
                         "cell (cluster-balanced diversity sampling, the "
                         "other half of the SemDeDup recipe; 0 = off)")
    ap.add_argument("--benchmark", default=None,
                    help="decontam: parquet table of benchmark/eval docs "
                         "(small -- eval suites are KB-MB and are "
                         "broadcast); required with the decontam stage")
    ap.add_argument("--benchmark-id-col", default=None,
                    help="decontam: id column name IN --benchmark when it "
                         "differs from --id-col; renamed on read")
    ap.add_argument("--benchmark-text-col", default=None,
                    help="decontam: text column name IN --benchmark when "
                         "it differs from --text-col; renamed on read")
    ap.add_argument("--decontam-overlap", type=float, default=0.3,
                    help="decontam: drop a training doc when its "
                         "distinct-bigram overlap with any one benchmark "
                         "doc covers at least this fraction of the "
                         "TRAINING doc's shingle set")
    ap.add_argument("--bucket-persist", default="cluster",
                    choices=("cluster", "canonical"),
                    help="neardup incremental: which docs' buckets enter "
                         "the appendix -- 'cluster' (default) persists "
                         "every member of a surviving cluster so future "
                         "shards near a dropped within-shard dup are "
                         "still caught (batch-CC-faithful); 'canonical' "
                         "persists survivors only (smaller table, "
                         "documented transitive recall loss)")
    ap.add_argument("--hash-family", default="md5mix",
                    choices=("md5mix", "md5", "xxhash64"),
                    help="neardup: MinHash signature family -- md5mix "
                         "(default; one md5 per shingle + universal mixes, "
                         "DuckDB-replayable), md5 (historical, 16 md5s per "
                         "shingle), xxhash64 (fastest, not replayable)")
    ap.add_argument("--lsh-threshold", type=float, default=None,
                    help="neardup (within-corpus batch form only): target "
                         "Jaccard similarity; the LSH banding is derived "
                         "via lsh_tuning instead of the 16x4 default. "
                         "Incompatible with --seen-buckets/--streaming: "
                         "persisted/streaming probes are keyed under the "
                         "table's stamped banding")
    ap.add_argument("--report", default=None, metavar="PATH",
                    help="after the write, run the one-pass corpus audit "
                         "(corpus_report: totals, language mix, gate keep "
                         "fraction + reject histogram, per-class PII doc "
                         "counts, dup estimate) over the CURATED output and "
                         "write the one-row report as JSON to PATH; also "
                         "embedded in the job's JSON line under 'report'. "
                         "With --benchmark, adds a 'contamination' block "
                         "(doc-level shingle-overlap measurement vs the "
                         "suite, GPT-3 appendix-C style) even when the "
                         "decontam drop stage didn't run. Batch-only "
                         "(corpus-wide aggregate)")
    ap.add_argument("--report-domains", type=int, default=0, metavar="N",
                    help="report: also embed the top-N registered domains "
                         "by doc count (needs --url-col present in the "
                         "output; domain-cardinality-sized aggregate, "
                         "top-N sort is tiny)")
    ap.add_argument("--report-exact-dup", action="store_true",
                    help="report: count distinct fingerprints EXACTLY (one "
                         "extra pass) instead of the one-pass HLL estimate "
                         "-- use at validation scale, where the ~2%% HLL "
                         "error would dwarf a near-zero true dup count")
    ap.add_argument("--resumable", action="store_true",
                    help="checkpoint-resumable batch run: shard the corpus "
                         "into --buckets hash buckets, write "
                         "<output>/data partitioned by bucket, and commit "
                         "an atomic per-bucket lineage record after each "
                         "bucket's data lands; a re-run skips completed "
                         "buckets. Only per-document stages plus exact "
                         "dedup are allowed (see the stage guard)")
    ap.add_argument("--buckets", type=int, default=64,
                    help="resumable: bucket count (the resume granularity "
                         "knob; recomputation after a crash is bounded by "
                         "one batch)")
    ap.add_argument("--bucket-batch", type=int, default=None,
                    help="resumable: write N buckets per pass instead of "
                         "all pending in one pass; each batch costs one "
                         "additional input scan but bounds crash "
                         "recomputation to a batch")
    ap.add_argument("--streaming", action="store_true",
                    help="run as a Structured Streaming job (availableNow) over "
                         "arriving document files; clean/pii/gate/split/sample are "
                         "stateless and stream as-is, dedup becomes the "
                         "watermarked streaming exact dedup (cross-batch state "
                         "bounded by --dedup-horizon), neardup becomes the "
                         "stateless corpus probe against --seen-buckets "
                         "(stream-static anti-joins, no appendix); incremental "
                         "--seen-fps is batch-only")
    ap.add_argument("--checkpoint", default=None, help="streaming checkpoint dir")
    ap.add_argument("--ts-col", default="ts",
                    help="streaming dedup event-time column (must exist on the "
                         "input when --streaming + dedup)")
    ap.add_argument("--dedup-horizon", default="30 minutes")
    args = ap.parse_args()

    stages = [s.strip() for s in args.stages.split(",") if s.strip()]
    unknown = sorted(set(stages) - set(STAGES))
    if unknown:
        ap.error(f"unknown stages: {unknown}")
    if ("urlfilter" in stages) and not args.blocked_domains:
        ap.error("urlfilter requires --blocked-domains")
    if args.shuffle_output is not None and (
            args.partition_output_by or args.output_files):
        ap.error("--shuffle-output orders the whole output; it is "
                 "exclusive with --partition-output-by/--output-files")
    if ("dedup" in stages) and args.seen_fps and not args.new_fps:
        ap.error("--seen-fps requires --new-fps")
    if getattr(args, "fps_key", "content") != "content" and not (
            args.seen_fps or args.fps_table):
        ap.error("--fps-key composes with incremental dedup only "
                 "(--seen-fps or --fps-table); for within-shard URL dedup "
                 "use the urldedup stage")
    if args.fps_table and (args.seen_fps or args.new_fps):
        ap.error("--fps-table and --seen-fps/--new-fps are exclusive: the "
                 "table IS the persisted state, appended in place")
    if ("neardup" in stages) and args.seen_buckets and not args.new_buckets \
            and not args.streaming:
        ap.error("--seen-buckets requires --new-buckets (batch incremental "
                 "mode writes the shard's appendix; only the --streaming "
                 "corpus probe runs appendix-less)")
    if args.new_buckets and not args.seen_buckets:
        ap.error("--new-buckets requires --seen-buckets: plain neardup is "
                 "the within-corpus batch form and writes no appendix -- "
                 "bootstrap a bucket table with "
                 "operators.dedup.minhash_band_buckets over the curated "
                 "output, then run later shards against it")
    if ("spandedup" in stages) and bool(args.seen_grams) != bool(args.new_grams):
        ap.error("--seen-grams and --new-grams come together (batch "
                 "incremental span dedup writes the shard's appendix to a "
                 "side path; union it in after the output commits). "
                 "Bootstrap a gram table with operators.dedup."
                 "span_gram_table over the curated corpus")
    if (args.seen_grams or args.new_grams) and "spandedup" not in stages:
        ap.error("--seen-grams/--new-grams only apply to the spandedup "
                 "stage")
    if args.seen_grams:
        # incremental_span_dedup's documented precondition: every doc-
        # dropping stage must run BEFORE the appendix is derived -- the
        # fixed stage order runs these AFTER spandedup, so the appendix
        # would mark grams of documents that never ship, and a later
        # shard's sole copy of a span shared with a dropped doc would be
        # silently excised (permanent content loss; round-7 advice item)
        droppers_after = [
            s for s in ("gate", "classify", "dedup", "neardup", "semdedup",
                        "decontam", "cap", "sample")
            if s in stages
        ]
        if droppers_after:
            ap.error(
                "--seen-grams cannot be combined with doc-dropping stages "
                f"that run after spandedup ({', '.join(droppers_after)}): "
                "the gram appendix must describe the documents that "
                "actually ship. Run the dropping stages in a prior pass, "
                "then the incremental spandedup pass on its output"
            )
    for new_p, seen_p, names in (
        (args.new_fps, args.seen_fps, "--new-fps/--seen-fps"),
        (args.new_buckets, args.seen_buckets, "--new-buckets/--seen-buckets"),
        (args.new_grams, args.seen_grams, "--new-grams/--seen-grams"),
    ):
        # the natural "update in place" reading is a data-loss hazard: the
        # overwrite plan reads the seen table LAZILY while deleting the
        # same parquet dir -- at best a late failure, at worst a destroyed
        # table; the appendix must go to a fresh path and be unioned later
        if new_p and seen_p and os.path.abspath(new_p) == os.path.abspath(seen_p):
            ap.error(f"{names} must be different paths: the appendix is "
                     "written while the seen table is still being read "
                     "lazily -- write to a fresh path and union afterwards")

    if ("decontam" in stages) and not args.benchmark:
        ap.error("the decontam stage requires --benchmark")
    if ("classify" in stages) and not args.clf_weights:
        ap.error("the classify stage requires --clf-weights (train one with "
                 "jobs/train_clf_job.py)")
    if getattr(args, "clf_top_frac", None) is not None:
        if "classify" not in stages:
            ap.error("--clf-top-frac only applies to the classify stage")
        if not 0.0 < args.clf_top_frac <= 1.0:
            ap.error("--clf-top-frac must be in (0, 1]")
        if getattr(args, "resumable", False):
            ap.error("--clf-top-frac conflicts with --resumable: the "
                     "cutpoint is a GLOBAL score quantile, and a "
                     "bucket-local quantile is not the corpus quantile -- "
                     "run it as a one-shot pass (the fixed --clf-threshold "
                     "form stays bucket-local-safe)")
    if getattr(args, "lsh_threshold", None) is not None:
        if "neardup" not in stages:
            ap.error("--lsh-threshold only applies to the neardup stage")
        if not 0.0 < args.lsh_threshold < 1.0:
            ap.error("--lsh-threshold must be in (0, 1)")
        if args.seen_buckets or args.streaming:
            ap.error("--lsh-threshold is for the within-corpus batch form "
                     "only: incremental (--seen-buckets) and streaming "
                     "probes must match the persisted table's stamped "
                     "banding, which a derived banding would silently "
                     "break (the stamp errors, this guard errors sooner)")
    if args.mix_temperature is not None and args.rate:
        ap.error("--mix-temperature and --rate are exclusive")
    if args.mix_temperature is not None and args.mix_temperature <= 0:
        ap.error("--mix-temperature must be > 0")
    if args.mix_keep_frac != 1.0 and args.mix_temperature is None:
        ap.error("--mix-keep-frac only applies with --mix-temperature "
                 "(explicit --rate flags carry their own rates)")
    if args.mix_keep_frac <= 0.0:
        # values > 1 are deliberately allowed: per-source rates clamp to 1
        # regardless, and over-asking is the documented recovery when a
        # tiny source cannot supply its flattened share
        ap.error("--mix-keep-frac must be > 0")
    if args.resumable:
        if args.streaming:
            ap.error("--resumable and --streaming are exclusive (the "
                     "streaming checkpoint already gives exactly-once "
                     "over arriving files)")
        bad = sorted(set(stages) - set(RESUMABLE_STAGES))
        if bad:
            ap.error(f"stages not resumable: {bad} -- bucket-local "
                     "processing must equal global processing, so only "
                     f"{','.join(RESUMABLE_STAGES)} compose with "
                     "--resumable; run corpus-wide stages as a one-shot "
                     "pass over the resumable output")
        if args.seen_fps or args.fps_table:
            ap.error("incremental dedup (--seen-fps/--fps-table) does not "
                     "compose with --resumable: the fingerprint table is "
                     "corpus-wide state")
        if args.mix_temperature is not None:
            ap.error("--mix-temperature is corpus-wide (per-source "
                     "aggregate) and does not compose with --resumable; "
                     "pass explicit --rate flags")
        if args.report:
            ap.error("--report with --resumable: run the report as a "
                     "separate batch job over <output>/data")
        if args.partition_output_by:
            ap.error("--partition-output-by conflicts with --resumable "
                     "(the data layout is partitioned by bucket)")
        if args.shuffle_output is not None:
            ap.error("--shuffle-output conflicts with --resumable (a "
                     "global order crosses buckets); shuffle as a "
                     "one-shot pass over the resumable output")
        if args.buckets < 1:
            ap.error("--buckets must be >= 1")
    if args.streaming:
        if args.seen_fps or args.fps_table:
            ap.error("incremental dedup (--seen-fps/--fps-table) is "
                     "batch-only")
        if args.shuffle_output is not None:
            ap.error("--shuffle-output is batch-only: a global order has "
                     "no streaming analog")
        if "urldedup" in stages and args.url_keep != "min_id":
            ap.error("--url-keep longest is batch-only: streaming urldedup "
                     "is first-seen (dropDuplicatesWithinWatermark cannot "
                     "compare captures it has already emitted)")
        if "urldedup" in stages and "dedup" in stages:
            ap.error("streaming urldedup and dedup cannot compose in one "
                     "query: each needs its own watermark on the event "
                     "column and Spark disallows redefining a watermark "
                     "(STREAM_FAILED at runtime). Run urldedup in this "
                     "stream and dedup in a second hop (or batch), or "
                     "vice versa")
        if "linededup" in stages:
            ap.error("linededup is batch-only: the corpus-first occurrence "
                     "of a line is a corpus-wide aggregate with unbounded "
                     "streaming state")
        if "spandedup" in stages:
            ap.error("spandedup is batch-only: the corpus-first occurrence "
                     "of a token span is a corpus-wide aggregate with "
                     "unbounded streaming state")
        if "cap" in stages:
            ap.error("cap (per-source document cap) is batch-only: it needs "
                     "a corpus-wide per-stratum count, which has no bounded "
                     "streaming-state form")
        if args.mix_temperature is not None:
            ap.error("--mix-temperature is batch-only: deriving the rates "
                     "needs a corpus-wide per-source aggregate; pass "
                     "explicit --rate flags when streaming")
        if "neardup" in stages and not args.seen_buckets:
            ap.error("streaming neardup requires --seen-buckets: the "
                     "WITHIN-stream connected-components form is batch-only; "
                     "what streams is the stateless corpus probe (drop docs "
                     "sharing any LSH band bucket with the persisted table). "
                     "For within-stream near-dups compose the simhash "
                     "dropDuplicatesWithinWatermark path")
        if "neardup" in stages and args.new_buckets:
            ap.error("--new-buckets is batch-only: a stream updating the "
                     "bucket table it joins against would race its own "
                     "micro-batches; advance the table with a batch "
                     "incremental run over the accumulated output")
        if "semdedup" in stages:
            ap.error("semdedup is batch-only: the KMeans fit and the "
                     "iterative component labeling both need the full "
                     "corpus")
        if "classify" in stages:
            ap.error("classify is batch-only: the score is a per-doc "
                     "aggregate over exploded terms followed by a semi-join, "
                     "neither of which streams in append mode; gate streams, "
                     "classify in the batch pass over the stream's output")
        if "decontam" in stages:
            ap.error("decontam is batch-only: the per-(train,bench) "
                     "overlap is a shingle-explode aggregation with no "
                     "bounded streaming-state form; run it as a batch "
                     "pass over the stream's output")
        if args.report:
            ap.error("--report is batch-only (corpus-wide aggregate); run "
                     "it as a separate batch job over the stream's output")
        if not args.checkpoint:
            ap.error("--streaming requires --checkpoint")

    from pyspark.sql import SparkSession

    builder = SparkSession.builder.appName("corpus-curation")
    if args.fps_table:
        # the bucketed state table must outlive this job: back the catalog
        # with a persistent metastore (locally a derby dir in the driver's
        # cwd; on a cluster the shared Hive/Glue/REST metastore). The
        # default in-memory catalog would forget the table's bucketing
        # metadata at session exit and the next shard's CREATE would
        # collide with the surviving files
        builder = builder.enableHiveSupport()
    spark = builder.getOrCreate()
    if args.streaming:
        result = run_pipeline_streaming(spark, args, stages)
    elif args.resumable:
        result = run_pipeline_resumable(spark, args, stages)
    else:
        result = run_pipeline(spark, args, stages)
    print(json.dumps(result))
    spark.stop()


def _read_blocked_domains(path: str) -> list[str]:
    """Driver-side read of the blocklist file (one domain per line, ``#``
    comments allowed) -- bounded config cardinality, same class as the
    --rate dict."""
    with open(path) as f:
        return [
            ln.strip().lower()
            for ln in f
            if ln.strip() and not ln.lstrip().startswith("#")
        ]


def _load_benchmark(spark, args):
    """Read the --benchmark table and align its id/text column names with
    the corpus's (--benchmark-id-col / --benchmark-text-col); loud error
    when the expected columns are missing."""
    bench = spark.read.parquet(args.benchmark)
    for have, want in (
        (getattr(args, "benchmark_id_col", None), args.id_col),
        (getattr(args, "benchmark_text_col", None), args.text_col),
    ):
        if have and have != want:
            bench = bench.withColumnRenamed(have, want)
    for col, flag in ((args.id_col, "--benchmark-id-col"),
                      (args.text_col, "--benchmark-text-col")):
        if col not in bench.columns:
            raise SystemExit(
                f"--benchmark table has no {col!r} column "
                f"(columns: {bench.columns}) -- pass {flag}"
            )
    return bench


def run_pipeline(spark, args, stages) -> dict:
    """The curation pipeline body; separated from main() so tests can
    drive it on a shared session without the job owning its lifecycle."""
    from pyspark.sql import functions as F

    from action_pdf_accessibility_paddle_docker_spark.operators import dedup as D
    from action_pdf_accessibility_paddle_docker_spark.operators import (
        linefilter as L,
    )
    from action_pdf_accessibility_paddle_docker_spark.operators import pii as P
    from action_pdf_accessibility_paddle_docker_spark.operators import (
        textstats as T,
    )

    from pyspark.sql import Observation

    df = spark.read.parquet(args.input)
    counters: dict[str, int] = {"input": df.count()}

    # Per-stage row counters ride the single write pass as Observations
    # (no extra scans -- a count() per stage would re-execute the whole
    # chain once per stage, which is wrong at curation scale). A stage
    # that drops everything is then visible in the JSON line instead of a
    # bare output=0.
    observations: list[tuple[str, Observation, "object"]] = []
    # State-mutating side effects (e.g. the --fps-table appendix) deferred
    # until AFTER the curated output commits: appending the shard's
    # fingerprints first would, on a crash between the append and the
    # output write, permanently mark every doc of the shard as seen -- a
    # rerun would then emit ZERO rows (silent data loss on retry). The
    # frames feeding these callbacks are eagerly checkpointed, so running
    # them late recomputes nothing.
    post_commit: list = []

    def observed(frame, stage: str):
        obs = Observation(f"after_{stage}")
        out = frame.observe(obs, F.count(F.lit(1)).alias("rows"))
        observations.append((stage, obs, out))
        return out

    if "urlfilter" in stages:
        from action_pdf_accessibility_paddle_docker_spark.operators import urls as U

        df = observed(
            U.filter_blocked_domains(
                df, _read_blocked_domains(args.blocked_domains),
                url_col=getattr(args, "url_col", "url"),
            ),
            "urlfilter",
        )
    if "urldedup" in stages:
        from action_pdf_accessibility_paddle_docker_spark.operators import urls as U

        df = observed(
            U.url_dedup(df, id_col=args.id_col, url_col=args.url_col,
                        policy=getattr(args, "url_keep", "min_id"),
                        text_col=args.text_col),
            "urldedup",
        )
    if "clean" in stages:
        df = observed(
            L.apply_line_filter(
                df, text_col=args.text_col, min_kept_lines=args.min_kept_lines
            ),
            "clean",
        )
    if "linededup" in stages:
        # eager pre-checkpoint (see the classify note): the operator
        # references its input twice, and its own internal checkpoint is
        # LAZY (fine standalone, wrong under observed stages)
        df = df.localCheckpoint(eager=True)
        df = observed(
            D.remove_duplicate_lines(
                df, id_col=args.id_col, text_col=args.text_col,
                min_chars=args.line_min_chars, checkpoint_input=False,
                separator=(
                    "\n\n"
                    if getattr(args, "linededup_unit", "line") == "paragraph"
                    else "\n"
                ),
            ),
            "linededup",
        )
    if "spandedup" in stages:
        if args.span_k < 2:
            raise SystemExit("--span-k must be >= 2")
        # the pairing invariant is owned HERE too, not just argparse: a
        # library caller with seen_grams but no appendix path would
        # otherwise crash on parquet(None) AFTER the stage's work ran
        if bool(getattr(args, "seen_grams", None)) != bool(
            getattr(args, "new_grams", None)
        ):
            raise SystemExit(
                "--seen-grams and --new-grams come together (the appendix "
                "is the other half of the CDC contract)"
            )
        if getattr(args, "seen_grams", None):
            # incremental_span_dedup's documented precondition, owned HERE
            # as well as argparse (library callers bypass the CLI): every
            # doc-dropping stage must run BEFORE the appendix is derived,
            # or the gram appendix marks grams of documents that never
            # ship and a later shard's sole copy of a shared span is
            # silently excised (round-7 advice item)
            droppers_after = [
                s for s in ("gate", "classify", "dedup", "neardup",
                            "semdedup", "decontam", "cap", "sample")
                if s in stages
            ]
            if droppers_after:
                raise SystemExit(
                    "--seen-grams cannot be combined with doc-dropping "
                    f"stages after spandedup ({', '.join(droppers_after)}): "
                    "run them in a prior pass, then incremental spandedup "
                    "on its output"
                )
        # same shape as linededup: the operator references its input twice,
        # so materialize eagerly here (observation correctness) and skip its
        # internal lazy checkpoint
        df = df.localCheckpoint(eager=True)
        if getattr(args, "seen_grams", None):
            seen = spark.read.parquet(args.seen_grams)
            rewritten, new_grams = D.incremental_span_dedup(
                df, seen, k=args.span_k, id_col=args.id_col,
                text_col=args.text_col, checkpoint_input=False,
            )
            # side-path appendix (crash-safe by construction: the user
            # unions it in only after the output commit)
            new_grams.write.mode("overwrite").parquet(args.new_grams)
            df = observed(rewritten, "spandedup")
        else:
            df = observed(
                D.remove_duplicate_spans(
                    df, k=args.span_k, id_col=args.id_col,
                    text_col=args.text_col, checkpoint_input=False,
                ),
                "spandedup",
            )
    if "pii" in stages:
        df = P.redact(df, text_col=args.text_col)
    if "gate" in stages:
        df = observed(T.apply_quality_gate(df, text_col=args.text_col), "gate")
    if "classify" in stages:
        from action_pdf_accessibility_paddle_docker_spark.operators import (
            quality_clf as QC,
        )

        # materialize the pipeline-so-far: the score aggregate and the
        # semi-join's probe side both reference it (AQE compiles the
        # subplans independently -- same hazard as neardup/semdedup).
        # EAGER everywhere in this CLI: a LAZY localCheckpoint completes
        # every upstream Observation with rows=0 before any data flows
        # (measured), silently zeroing the per-stage counters; eager
        # materialization costs nothing extra (the pipeline always
        # executes) and the observations fire with real values
        weights, bias = QC.load_classifier(spark, args.clf_weights)
        df = df.localCheckpoint(eager=True)
        df = observed(
            QC.apply_classifier(
                df, weights, bias=bias, threshold=args.clf_threshold,
                text_col=args.text_col, id_col=args.id_col,
                top_frac=getattr(args, "clf_top_frac", None),
            ),
            "classify",
        )
    if "dedup" in stages:
        if getattr(args, "fps_table", None):
            # bucketed-table incremental mode: the corpus-sized state side
            # of the anti-join is read pre-partitioned (no shuffle), and
            # the appendix goes back into the SAME table (safe -- the
            # appender materializes the shard-sized rows first)
            n_buckets = int(getattr(args, "fps_buckets", 256))
            fps_key = getattr(args, "fps_key", "content")
            legacy_schema = False
            if spark.catalog.tableExists(args.fps_table):
                # key-space provenance is validated inside
                # incremental_dedup (check_fps_key); here we only detect
                # the legacy fingerprint-only schema so the appendix
                # matches it (Spark validates append schemas)
                seen = spark.table(args.fps_table)
                legacy_schema = "fp_key" not in seen.columns
            else:
                seen = spark.createDataFrame([], "fingerprint string")
            survivors, _ = D.incremental_dedup(
                df, seen, id_col=args.id_col, text_col=args.text_col,
                method=getattr(args, "fps_method", "join"),
                key=fps_key,
                url_col=getattr(args, "url_col", "url"),
            )
            # one materialization serves the appendix AND the output write
            # (the append is an eager action; without this the whole
            # upstream stage chain executes twice)
            survivors = survivors.localCheckpoint(eager=True)
            # the appendix itself runs POST-COMMIT (see post_commit above):
            # state must only record docs whose curated rows are durable
            post_commit.append(
                lambda s=survivors, nb=n_buckets, k=(
                    None if legacy_schema else fps_key
                ): D.append_fingerprints(
                    s.select("fingerprint"), args.fps_table,
                    n_buckets=nb, key=k,
                )
            )
            df = survivors.drop("fingerprint")
        elif args.seen_fps:
            fps_key = getattr(args, "fps_key", "content")
            # mergeSchema: an accumulated fps dir can mix pre-stamp
            # (fingerprint-only) and stamped shard files; without it the
            # read picks one footer's schema nondeterministically
            seen = spark.read.option("mergeSchema", "true").parquet(
                args.seen_fps
            )
            survivors, _ = D.incremental_dedup(
                df, seen, id_col=args.id_col, text_col=args.text_col,
                method=getattr(args, "fps_method", "join"),
                key=fps_key,
                url_col=getattr(args, "url_col", "url"),
            )
            survivors = survivors.localCheckpoint(eager=True)
            survivors.select(
                "fingerprint", F.lit(fps_key).alias("fp_key"),
            ).write.mode("overwrite").parquet(args.new_fps)
            df = survivors.drop("fingerprint")
        else:
            canon = D.exact_dedup(df, id_col=args.id_col, text_col=args.text_col)
            df = df.join(
                canon.select(F.col("canonical_id").alias(args.id_col)), args.id_col
            )
    if "neardup" in stages:
        # keep the min-id canonical of each LSH connected component; the
        # cluster table is (doc_id, cluster_id) for EVERY doc, so the
        # survivor filter is a doc_id equi-join, never a text re-hash.
        # Materialize the pipeline-so-far first: the iterative label
        # propagation (and both sides of the survivor join) would
        # otherwise re-execute the whole clean/pii/gate/dedup chain from
        # the source once per round -- the per-stage re-execution the
        # counters comment below calls wrong at curation scale
        df = df.localCheckpoint(eager=True)
        if getattr(args, "seen_buckets", None):
            seen = spark.read.parquet(args.seen_buckets)
            survivors, new_buckets = D.incremental_near_dedup(
                df, seen, id_col=args.id_col, text_col=args.text_col,
                hash_family=args.hash_family,
                persist_buckets=getattr(args, "bucket_persist", "cluster"),
            )
            new_buckets.write.mode("overwrite").parquet(args.new_buckets)
            df = observed(survivors, "neardup")
        else:
            clusters = D.dedup_clusters(
                df, id_col=args.id_col, text_col=args.text_col,
                hash_family=args.hash_family,
                threshold=getattr(args, "lsh_threshold", None),
            )
            df = observed(
                df.join(
                    clusters.where(F.col("doc_id") == F.col("cluster_id"))
                    .select(F.col("doc_id").alias(args.id_col)),
                    args.id_col,
                ),
                "neardup",
            )
    if "semdedup" in stages:
        from action_pdf_accessibility_paddle_docker_spark.operators import (
            similarity as S,
        )

        # materialize the pipeline-so-far: the KMeans fit, the iterative
        # component labeling, and the survivor join all reference it
        df = df.localCheckpoint(eager=True)
        if getattr(args, "embeddings", None):
            embt = spark.read.parquet(args.embeddings)
            eid = getattr(args, "embedding_id_col", None)
            if eid and eid != args.id_col:
                embt = embt.withColumnRenamed(eid, args.id_col)
            if args.id_col not in embt.columns:
                raise SystemExit(
                    f"semdedup: --embeddings table has no {args.id_col!r} "
                    f"column (columns: {embt.columns}) -- pass "
                    "--embedding-id-col to name its id column"
                )
        else:
            embt = df
        emb_col = getattr(args, "embedding_col", "embedding")
        if emb_col not in embt.columns:
            raise SystemExit(
                f"semdedup: column {emb_col!r} not found "
                f"{'in --embeddings' if getattr(args, 'embeddings', None) else 'on the input'}"
                " -- pass --embedding-col or --embeddings"
            )
        if getattr(args, "embeddings", None):
            # only ids still alive in the pipeline: a semantic rep must
            # never be a doc an earlier stage already removed
            embt = embt.join(df.select(args.id_col), args.id_col, "left_semi")
        sem = S.semantic_dedup(
            embt,
            threshold=getattr(args, "semdedup_threshold", 0.9),
            n_clusters=getattr(args, "semdedup_clusters", 16),
            id_col=args.id_col, vec_col=emb_col,
        )
        keep = sem.where(F.col("rep_id") == F.col(args.id_col))
        cap_n = int(getattr(args, "semdedup_cap", 0) or 0)
        if cap_n > 0:
            # method='exact': the CLI promises AT MOST cap survivors per
            # coarse cell (and a non-empty cell keeps something). The rate
            # form is only ~cap in expectation and can zero out a small
            # cell. Cells are bounded (~n/k by construction), so the
            # per-key window is safe here -- matching the reference
            # composition in test_similarity.
            keep = T.cap_per_stratum(
                keep, cap=cap_n, stratum_col="cid", id_col=args.id_col,
                method="exact",
            )
        df = observed(
            df.join(keep.select(args.id_col), args.id_col), "semdedup"
        )
    if "decontam" in stages:
        bench = _load_benchmark(spark, args)
        flagged = D.decontaminate(
            df, bench,
            min_overlap_frac=getattr(args, "decontam_overlap", 0.3),
            id_col=args.id_col, text_col=args.text_col,
        )
        # the flagged set is small (leaked docs), so the anti-join
        # broadcasts it and the corpus streams map-only
        df = observed(
            df.join(
                F.broadcast(
                    flagged.select(
                        F.col("train_id").alias(args.id_col)
                    ).distinct()
                ),
                args.id_col, "left_anti",
            ),
            "decontam",
        )
    if "cap" in stages:
        # materialize first (eager -- see the classify note): the cap's
        # count aggregate and keep filter then share one materialization,
        # and cap_per_stratum's own LAZY checkpoint (which would zero the
        # upstream Observations) is skipped
        cap_stratum = args.stratum_col
        if getattr(args, "cap_by_domain", False):
            from action_pdf_accessibility_paddle_docker_spark.operators import urls as U

            # derive the registered domain row-wise (staged projections --
            # the inlined PSL CASE would blow up the plan); NULL
            # (unparseable) is one stratum -- cap_per_stratum's sentinel
            # handles it
            df = U.with_url_columns(df, args.url_col, url_domain="_cap_domain")
            cap_stratum = "_cap_domain"
        df = df.localCheckpoint(eager=True)
        df = observed(
            T.cap_per_stratum(
                df, cap=args.cap_per_source, stratum_col=cap_stratum,
                id_col=args.id_col, checkpoint=False,
            ),
            "cap",
        )
        if cap_stratum == "_cap_domain":
            df = df.drop("_cap_domain")
    if "split" in stages:
        df = T.stable_split(df, id_col=args.id_col)
    if "sample" in stages:
        if getattr(args, "mix_temperature", None) is not None:
            if args.rate:
                # argparse validates this in main(); defensive for direct
                # run_pipeline callers (tests, notebooks)
                raise SystemExit("--mix-temperature and --rate are exclusive")
            # materialize the pipeline-so-far once: the rate derivation is
            # an eager aggregate over it, and the sample filter reads it
            # again for the write
            df = df.localCheckpoint(eager=True)
            rates = T.temperature_mix_rates(
                df, stratum_col=args.stratum_col,
                temperature=args.mix_temperature,
                keep_fraction=getattr(args, "mix_keep_frac", 1.0),
            )
        else:
            rates = {}
            for spec in args.rate:
                k, _, v = spec.partition("=")
                rates[k] = float(v)
        df = T.stratified_sample(
            df, rates=rates, stratum_col=args.stratum_col,
            id_col=args.id_col, default_rate=args.default_rate,
        )

    writer = df
    part_col = getattr(args, "partition_output_by", None)
    n_files = int(getattr(args, "output_files", 0) or 0)
    if n_files > 0:
        if part_col:
            # salt WITHIN the layout column: repartition(n, part_col)
            # alone would hash each source to exactly one task -- one
            # giant file per dir and the dominant source's write
            # serialized through a single straggler. Hashing (part_col,
            # salt) bounds each dir at <= n_files files (a source spans
            # at most n_files distinct salt combos) while the EXPLICIT
            # partition count keeps the write wide; keys-only
            # repartition would let AQE coalesce the tiny-looking
            # shuffle back into one task.
            salt = F.pmod(
                F.xxhash64(F.col(args.id_col).cast("string")), F.lit(n_files)
            )
            writer = writer.repartition(
                max(64, n_files * 8), F.col(part_col), salt
            )
        else:
            writer = writer.repartition(n_files)
    shuffle_salt = getattr(args, "shuffle_output", None)
    out_path = args.output
    if shuffle_salt is not None:
        # TWO-PHASE write: the global shuffle's repartitionByRange samples
        # its child to pick boundaries, and sampling a lazy pipeline
        # RE-EXECUTES the whole stage chain (and double-fires every
        # Observation -- measured: after_<stage> read 2x on the one-job
        # form). So the curated rows are materialized to a staging dir
        # first (observations fire exactly once), and the shuffle pass
        # reads them back -- boundary sampling then costs one
        # column-pruned parquet scan of the id column, the flagship
        # extraction's order-the-input lesson. Staging lives OUTSIDE
        # args.output: the final overwrite would delete the very files
        # the lazy shuffle plan is still reading.
        out_path = args.output.rstrip("/") + ".shuffle-staging"
    w = writer.write.mode("overwrite")
    if part_col:
        w = w.partitionBy(part_col)
    w.parquet(out_path)
    if shuffle_salt is not None:
        T.shuffled(
            spark.read.parquet(out_path), salt=shuffle_salt,
            id_col=args.id_col,
        ).write.mode("overwrite").parquet(args.output)
        # best-effort cleanup via the same FS API the lineage writer uses
        try:
            jvm = spark._jvm
            jsc = spark._jsc
            path = jvm.org.apache.hadoop.fs.Path(out_path)
            path.getFileSystem(jsc.hadoopConfiguration()).delete(path, True)
        except Exception:  # noqa: BLE001 -- staging leftovers are harmless
            pass
    # the curated output is durable from here on: apply deferred state
    # mutations (fps-table appendix) -- a crash BEFORE this point reruns
    # cleanly because the state table never saw the shard
    for fn in post_commit:
        fn()
    for stage, obs, frame in observations:
        # When a stage empties the corpus, AQE empty-relation propagation
        # can replace the downstream subtree (incl. the CollectMetrics
        # node) with an empty LocalRelation, so the observation never
        # fires; fall back to a direct count of that stage's frame -- the
        # chain is cheap precisely because it is (nearly) empty.
        try:
            got = int(obs.get["rows"])
            # a LAZY localCheckpoint anywhere downstream completes the
            # observation with rows=0 before data flows; 0 is therefore
            # ambiguous -- re-count (cheap when the frame is truly empty,
            # and the eager-checkpoint policy above makes this rare)
            counters[f"after_{stage}"] = got if got > 0 else frame.count()
        except Exception:  # noqa: BLE001 -- metrics node elided
            counters[f"after_{stage}"] = frame.count()
    counters["output"] = spark.read.parquet(args.output).count()
    result = {"mode": "corpus", "stages": stages, "counters": counters}
    if getattr(args, "report", None):
        # audit the CURATED output (what ships), not the input: diffing
        # reports across runs/stages is the point of the artifact
        out_df = spark.read.parquet(args.output)
        row = T.corpus_report(
            out_df, text_col=args.text_col,
            exact_dup=bool(getattr(args, "report_exact_dup", False)),
        ).collect()[0].asDict()
        n_dom = int(getattr(args, "report_domains", 0) or 0)
        if n_dom > 0:
            from action_pdf_accessibility_paddle_docker_spark.operators import urls as U

            # one map-side-combined aggregate (domain-cardinality-sized);
            # the top-N sort runs on that aggregate, never the corpus
            row["top_domains"] = [
                {"domain": r["url_domain"], "n_docs": r["n_docs"],
                 "n_chars": r["n_chars"]}
                for r in U.domain_stats(out_df, url_col=args.url_col,
                                        text_col=args.text_col)
                .orderBy(F.desc("n_docs"),
                         F.asc_nulls_last("url_domain"))
                .limit(n_dom).collect()
            ]
        if getattr(args, "benchmark", None):
            # contamination block (GPT-3 appendix-C measurement): doc-level
            # fraction of shingles found anywhere in the benchmark suite,
            # folded to one row -- the number a corpus card reports even
            # when the decontam DROP stage didn't run
            # plain getattr default (never `or`): an explicit 0.0 threshold
            # must not be silently replaced -- the report has to agree with
            # what the decontam stage itself gated on
            thr = float(getattr(args, "decontam_overlap", 0.3))
            crow = (
                D.contamination_scores(
                    out_df, _load_benchmark(spark, args),
                    id_col=args.id_col, text_col=args.text_col,
                )
                .agg(
                    F.count(F.lit(1)).alias("n_docs_scored"),
                    F.coalesce(
                        F.sum((F.col("n_contaminated") > 0).cast("bigint")),
                        F.lit(0),
                    ).alias("n_docs_hit"),
                    F.coalesce(
                        F.sum(
                            (F.col("contamination_frac") >= thr).cast("bigint")
                        ),
                        F.lit(0),
                    ).alias("n_docs_over_threshold"),
                    F.round(F.avg("contamination_frac"), 6).alias(
                        "mean_contamination_frac"
                    ),
                    F.max("contamination_frac").alias(
                        "max_contamination_frac"
                    ),
                )
                .collect()[0]
                .asDict()
            )
            crow["threshold"] = thr
            row["contamination"] = crow
        with open(args.report, "w") as f:
            json.dump(row, f, indent=1, sort_keys=True)
        result["report"] = row
    return result



def run_pipeline_resumable(spark, args, stages) -> dict:
    """Checkpoint-resumable batch curation: ``plans.lineage.run_bucketed``
    over ``--buckets`` hash buckets (``--bucket-batch`` bounds crash
    recomputation at one extra input scan per batch). Each bucket's lineage
    counters are its row count and id range.

    Bucket-local processing must equal the one-shot pipeline, hence the
    stage guard (RESUMABLE_STAGES). The one subtle case is exact
    dedup: the bucket key is the dedup FINGERPRINT (md5 of the normalized
    post-clean/pii text -- the text dedup itself sees) rather than the
    doc id, so every duplicate group lands whole in one bucket and
    min-id-per-fingerprint inside the bucket IS the global answer.
    clean/pii run BEFORE the bucket split for the same reason (they
    rewrite the text the fingerprint is taken over); both are
    deterministic row-wise projections, so per-batch re-execution over
    the filtered input is value-identical to a global pass. Equality
    with ``run_pipeline`` (including a crash mid-run) is pinned by
    test_corpus_job.

    ``fail_after_batches`` (Namespace attr, test hook): raise after N
    batches to simulate a crash; the next call resumes.
    """
    # the bucket-local == global invariant is owned HERE, not just by the
    # argparse layer: a programmatic caller passing a cross-bucket stage
    # (spandedup, neardup, ...) must get a loud error, never an output
    # stamped with a stage that silently never ran (review-pass-7 class,
    # same as the --clf-top-frac fix)
    bad = sorted(set(stages) - set(RESUMABLE_STAGES))
    if bad:
        raise SystemExit(
            f"stages not resumable (bucket-local result != global): "
            f"{','.join(bad)}; resumable runs support "
            f"{','.join(RESUMABLE_STAGES)}"
        )

    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    from action_pdf_accessibility_paddle_docker_spark.operators import dedup as D
    from action_pdf_accessibility_paddle_docker_spark.operators import (
        linefilter as L,
    )
    from action_pdf_accessibility_paddle_docker_spark.operators import pii as P
    from action_pdf_accessibility_paddle_docker_spark.operators import (
        textstats as T,
    )
    from action_pdf_accessibility_paddle_docker_spark.plans.lineage import (
        run_bucketed,
    )

    df = spark.read.parquet(args.input)
    if "urlfilter" in stages:
        from action_pdf_accessibility_paddle_docker_spark.operators import urls as U

        df = U.filter_blocked_domains(
            df, _read_blocked_domains(args.blocked_domains),
            url_col=args.url_col,
        )
    if "clean" in stages:
        df = L.apply_line_filter(
            df, text_col=args.text_col, min_kept_lines=args.min_kept_lines
        )
    if "pii" in stages:
        df = P.redact(df, text_col=args.text_col)
    if "classify" in stages:
        from action_pdf_accessibility_paddle_docker_spark.operators import (
            quality_clf as _QC,
        )

        # own the invariant here, not just at the argparse layer: the
        # top-fraction cutpoint is a GLOBAL score quantile, and this
        # function scores bucket-locally -- silently filtering by the
        # fixed threshold instead would produce a different corpus
        if getattr(args, "clf_top_frac", None) is not None:
            raise ValueError(
                "clf_top_frac is incompatible with the resumable pipeline: "
                "the cutpoint is a global score quantile and buckets are "
                "scored independently; run the classify stage as a "
                "one-shot pass (run_pipeline) or use the fixed threshold"
            )
        clf_weights, clf_bias = _QC.load_classifier(spark, args.clf_weights)
    n_buckets = int(getattr(args, "buckets", 64))
    key = (F.md5(D.normalized(F.col(args.text_col))) if "dedup" in stages
           else F.col(args.id_col).cast("string"))
    part = df.withColumn(
        "bucket", F.pmod(F.xxhash64(key), F.lit(n_buckets)).cast("int")
    )

    # pin everything a bucket index's MEANING depends on: the count, the
    # key kind (dedup fingerprints over the post-clean/pii text vs raw
    # ids), and the stage/column set that shapes that key.
    # row-set-shaping parameters are pinned per stage actually present:
    # committed buckets keep the values they ran under, so a resume with
    # (say) a stricter --min-kept-lines would yield an inconsistent corpus
    # with no error. The input path is pinned too (a resume against a
    # different --input silently mixes corpora AND loses every new-input
    # row hashing into an already-committed bucket). Stages pin in the
    # CANONICAL applied order so a reordered --stages listing of the same
    # set does not spuriously block a legitimate resume.
    shaping: dict = {}
    if "clean" in stages:
        shaping["min_kept_lines"] = int(args.min_kept_lines)
    if "urlfilter" in stages:
        shaping["url_col"] = args.url_col
        shaping["blocked_domains"] = getattr(args, "blocked_domains", None)
    if "classify" in stages:
        shaping["clf_weights"] = args.clf_weights
        shaping["clf_threshold"] = float(getattr(args, "clf_threshold", 0.5))
    if "sample" in stages:
        shaping["rates"] = sorted(getattr(args, "rate", []) or [])
        shaping["default_rate"] = float(getattr(args, "default_rate", 1.0))
        shaping["stratum_col"] = args.stratum_col

    def transform(out):
        if "gate" in stages:
            out = T.apply_quality_gate(out, text_col=args.text_col)
        if "classify" in stages:
            # per-document under FIXED weights, so bucket-local == global;
            # the weights LocalRelation re-broadcasts per batch (tiny)
            out = _QC.apply_classifier(
                out, clf_weights, bias=clf_bias,
                threshold=args.clf_threshold,
                text_col=args.text_col, id_col=args.id_col,
            )
        if "dedup" in stages:
            # bucket-local exact dedup == global: see the docstring
            canon = D.exact_dedup(out, id_col=args.id_col,
                                  text_col=args.text_col)
            out = out.join(
                canon.select(F.col("canonical_id").alias(args.id_col)),
                args.id_col,
            )
        if "split" in stages:
            out = T.stable_split(out, id_col=args.id_col)
        if "sample" in stages:
            rates = {}
            for spec in args.rate:
                k, _, v = spec.partition("=")
                rates[k] = float(v)
            out = T.stratified_sample(
                out, rates=rates, stratum_col=args.stratum_col,
                id_col=args.id_col, default_rate=args.default_rate,
            )
        return out

    summary, _ = run_bucketed(
        spark, part, args.output,
        {
            "kind": "corpus",
            "n_buckets": int(n_buckets),
            "bucket_key": ("fingerprint" if "dedup" in stages else "id"),
            "stages": [st for st in STAGES if st in set(stages)],
            "id_col": args.id_col,
            "text_col": args.text_col,
            "input": args.input,
            **shaping,
        },
        n_buckets=n_buckets,
        bucket_batch=int(getattr(args, "bucket_batch", None) or 0) or None,
        transform=transform,
        order=(args.id_col,),
        counters={
            "rows": (F.count(F.lit(1)), 0),
            "min_id": (F.min(args.id_col), None),
            "max_id": (F.max(args.id_col), None),
        },
        fail_after_batches=getattr(args, "fail_after_batches", None),
    )
    try:
        written = spark.read.parquet(args.output.rstrip("/") + "/data")
    except AnalysisException:  # no data root: nothing survived any stage
        written = None
    # any other failure (a damaged committed bucket) propagates: reporting
    # it as an empty corpus would hide the damage
    output = 0 if written is None else written.count()
    return {"mode": "corpus-resumable", "stages": stages, **summary,
            "output": output}


def run_pipeline_streaming(spark, args, stages) -> dict:
    """Streaming curation over arriving document files. clean / pii / gate /
    split / sample are stateless projections (they stream unchanged); dedup
    becomes the watermarked streaming exact dedup, its state bounded by
    --dedup-horizon. Checkpointed availableNow run: re-running drains only
    new files, exactly once."""
    from pyspark.sql import functions as F

    from action_pdf_accessibility_paddle_docker_spark.operators import dedup as D
    from action_pdf_accessibility_paddle_docker_spark.operators import (
        linefilter as L,
    )
    from action_pdf_accessibility_paddle_docker_spark.operators import pii as P
    from action_pdf_accessibility_paddle_docker_spark.operators import (
        textstats as T,
    )

    schema = spark.read.parquet(args.input).schema
    df = spark.readStream.schema(schema).parquet(args.input)

    if "urlfilter" in stages:
        from action_pdf_accessibility_paddle_docker_spark.operators import urls as U

        df = U.filter_blocked_domains(
            df, _read_blocked_domains(args.blocked_domains),
            url_col=args.url_col,
        )
    if "urldedup" in stages:
        # streaming analog: FIRST-seen survives (not min-id -- arrival
        # order is the only order a stream has); watermark-bounded state
        # shared with the dedup horizon. Unparseable URLs get a per-row
        # unique key (NULL would merge them all into one survivor).
        from action_pdf_accessibility_paddle_docker_spark.operators import urls as U

        ts = (F.col(args.ts_col) if args.ts_col in schema.names
              else F.current_timestamp())
        key = F.coalesce(
            F.md5(U.normalize_url_from(F.col("_u_s"))),
            F.concat(F.lit("row:"), F.col(args.id_col).cast("string")),
        )
        df = (
            df.withColumn("_ts", ts)
            .withColumn("_u_s", U.stripped_url(F.col(args.url_col)))
            .withColumn("_ukey", key)
            .withWatermark("_ts", args.dedup_horizon)
            .dropDuplicatesWithinWatermark(["_ukey"])
            .drop("_ukey", "_ts", "_u_s")
        )
    if "clean" in stages:
        df = L.apply_line_filter(
            df, text_col=args.text_col, min_kept_lines=args.min_kept_lines
        )
    if "pii" in stages:
        df = P.redact(df, text_col=args.text_col)
    if "gate" in stages:
        df = T.apply_quality_gate(df, text_col=args.text_col)
    if "dedup" in stages:
        ts = (F.col(args.ts_col) if args.ts_col in schema.names
              else F.current_timestamp())
        df = (
            df.withColumn("_ts", ts)
            .withColumn(
                # NULL-text docs must never merge (dropDuplicates treats
                # NULL keys as EQUAL): per-row fallback, the urldedup guard
                "fingerprint",
                F.coalesce(
                    F.md5(D.normalized(F.col(args.text_col))),
                    F.concat(F.lit("row:"),
                             F.col(args.id_col).cast("string")),
                ),
            )
            .withWatermark("_ts", args.dedup_horizon)
            .dropDuplicatesWithinWatermark(["fingerprint"])
            .drop("fingerprint", "_ts")
        )
    if "neardup" in stages:
        # stateless corpus probe (argparse guarantees --seen-buckets):
        # drop arriving docs near ANYTHING the batch corpus has seen;
        # within-stream near-dups are the simhash watermark path's job
        from action_pdf_accessibility_paddle_docker_spark.streaming.stream import (
            streaming_near_dedup_against_corpus,
        )

        seen = spark.read.parquet(args.seen_buckets)
        df = streaming_near_dedup_against_corpus(
            df, seen, text_col=args.text_col, hash_family=args.hash_family,
        )
    if "split" in stages:
        df = T.stable_split(df, id_col=args.id_col)
    if "sample" in stages:
        rates = {}
        for spec in args.rate:
            k, _, v = spec.partition("=")
            rates[k] = float(v)
        df = T.stratified_sample(
            df, rates=rates, stratum_col=args.stratum_col,
            id_col=args.id_col, default_rate=args.default_rate,
        )

    q = (
        df.writeStream.format("parquet")
        .option("path", args.output)
        .option("checkpointLocation", args.checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    n_out = spark.read.parquet(args.output).count()
    return {"mode": "corpus-streaming", "stages": stages,
            "counters": {"output": n_out}}


if __name__ == "__main__":
    main()
