"""Deterministic benchmark inputs and the fingerprints that pin them.

* Transcript inputs (extract_mixed, resume_chat) are synthesized from the
  workload seed with the program's own row generator
  (``sources.transcripts.make_row``), sharded over a few child processes, and
  cached per (workload, seed, scale) in ``perfbench/.cache``. Each cached
  input carries a content digest; a cached file whose bytes no longer match
  its record is refused.
* A canary digest over a fixed sample of generator rows is pinned in
  ``pins.json``. An edit to ``sources/transcripts.py`` that changes what the
  generator emits changes the canary, and the benchmark refuses to run, so the
  load cannot shift silently under a later change.
* The curation table (curate_sf0.1) is the one table its queries read,
  ``documents``, generated here from a fixed seed with the schema and value
  distributions of the sf0.1 test table at a fifth of its rows
  (``FULL.documents``). Its content digest is pinned too.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import sys
from dataclasses import dataclass
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

HERE = Path(__file__).resolve().parent
CACHE = HERE / ".cache"
PINS = HERE / "pins.json"

#: bump to invalidate every cached input (layout change in this file)
INPUT_VERSION = 2
POOL_SIZE = 4

TRANSCRIPT_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us", tz="UTC")),
    ]
)


class InputDrift(RuntimeError):
    """A generated or cached input does not match its pinned fingerprint."""


@dataclass(frozen=True)
class Scale:
    name: str
    mixed_convs: int  # extract_mixed conversations (~10.3 turns each)
    chat_convs: int  # resume_chat conversations before the plain-text filter
    shards: int  # transcript files per input
    documents: int  # curation documents


FULL = Scale(
    "full", mixed_convs=1150, chat_convs=4500, shards=4, documents=1000,
)
SMOKE = Scale(
    "smoke", mixed_convs=40, chat_convs=60, shards=2, documents=500,
)

MEDIAN_TURNS = 8


def _sha256_file(path: Path) -> str:
    h = hashlib.sha256()
    with open(path, "rb") as f:
        for chunk in iter(lambda: f.read(1 << 20), b""):
            h.update(chunk)
    return h.hexdigest()


def _load_pins() -> dict:
    with open(PINS) as f:
        return json.load(f)


# ---------------------------------------------------------------------------
# Transcripts
# ---------------------------------------------------------------------------


def _row_line(row: dict) -> bytes:
    return (
        json.dumps(
            [row["conv_id"], row["turn_idx"], row["role"], row["text"],
             row["tool"], row["ts"].isoformat()],
            separators=(",", ":"),
        )
        + "\n"
    ).encode()


def generator_canary() -> str:
    """Digest of a fixed sample of generator output (text mix, roles, tools,
    timestamps and the Zipf conversation lengths)."""
    from action_pdf_accessibility_paddle_docker_spark.sources.transcripts import (
        make_row,
        turns_for_conv,
    )

    h = hashlib.sha256()
    for seed in (0, 1, 7):
        for conv in (0, 1, 5, 123):
            for turn in range(6):
                h.update(_row_line(make_row(seed, conv, turn)))
    h.update(json.dumps([turns_for_conv(c, FULL.mixed_convs, MEDIAN_TURNS)
                         for c in range(64)]).encode())
    return h.hexdigest()


def check_generator_canary() -> None:
    got = generator_canary()
    want = _load_pins()["transcripts_canary"]
    if got != want:
        raise InputDrift(
            "sources.transcripts output changed (canary "
            f"{got[:16]} != pinned {want[:16]}); the workload inputs would "
            "shift. Re-pin perfbench/pins.json in a benchmark change only."
        )


def _gen_shard(plain_only: bool, seed: int, lo: int, hi: int, n_convs: int,
               out_file: str, with_oracle: bool) -> None:
    """Write one transcript shard (conversations lo..hi-1) to ``out_file``,
    with its row count and digest in ``<out_file>.json`` and, with
    ``with_oracle``, the oracle's per-turn digests in ``<out_file>.oracle``."""
    from action_pdf_accessibility_paddle_docker_spark.sources.transcripts import (
        make_row,
        turns_for_conv,
    )

    rows = []
    h = hashlib.sha256()
    for conv in range(lo, hi):
        for turn in range(turns_for_conv(conv, n_convs, MEDIAN_TURNS)):
            row = make_row(seed, conv, turn)
            if plain_only and is_payload(row["text"]):
                continue
            rows.append(row)
            h.update(_row_line(row))
    tbl = pa.Table.from_pylist(rows, schema=TRANSCRIPT_SCHEMA)
    pq.write_table(tbl, out_file, row_group_size=4096)
    if with_oracle:
        from action_pdf_accessibility_paddle_docker_spark.oracle.extract import (
            extract_turn,
            flatten_regions,
        )

        from checks import turn_digest

        with open(out_file + ".oracle", "wb") as f:
            for row in rows:
                res = extract_turn(row["text"])
                f.write(turn_digest(row["conv_id"], row["turn_idx"],
                                    res["extracted_text"], len(flatten_regions(res))))
    with open(out_file + ".json", "w") as f:
        json.dump({"rows": len(rows), "sha256": h.hexdigest()}, f)


def _run_shards(jobs: list[list]) -> None:
    """Run the shard jobs in at most POOL_SIZE child processes and wait for
    every one of them."""
    procs = []
    for k in range(min(POOL_SIZE, len(jobs))):
        mine = jobs[k::POOL_SIZE]
        procs.append(subprocess.Popen([sys.executable, __file__, "shards", json.dumps(mine)]))
    codes = [p.wait() for p in procs]
    if any(codes):
        raise RuntimeError(f"input generation failed (exit codes {codes})")


def is_payload(text: str) -> bool:
    """True for the generator's structured (PDF layout) and HTML turns."""
    from action_pdf_accessibility_paddle_docker_spark.config import PDF_PAYLOAD_SENTINEL

    return text.startswith(PDF_PAYLOAD_SENTINEL) or text.startswith("<!DOCTYPE")


@dataclass(frozen=True)
class TranscriptInput:
    path: Path
    rows: int
    content_sha256: str
    oracle: bytes  # concatenated 16-byte per-turn digests, input order


def _shard_bounds(n_convs: int, shards: int) -> list[tuple[int, int]]:
    step = -(-n_convs // shards)
    return [(lo, min(n_convs, lo + step)) for lo in range(0, n_convs, step)]


def transcripts(workload: str, seed: int, scale: Scale) -> TranscriptInput:
    """Build (or verify and reuse) one workload's transcript input."""
    plain_only = workload == "resume_chat"
    with_oracle = workload == "extract_mixed"
    n_convs = scale.chat_convs if plain_only else scale.mixed_convs
    d = CACHE / f"v{INPUT_VERSION}" / f"{workload}-{scale.name}-s{seed}"
    meta_file = d / "_META.json"
    oracle_file = d / "_oracle.bin"
    if meta_file.exists():
        meta = json.loads(meta_file.read_text())
        for name, want in meta["files"].items():
            if _sha256_file(d / name) != want:
                raise InputDrift(f"cached input {d / name} does not match its digest")
        oracle = oracle_file.read_bytes() if with_oracle else b""
        if with_oracle and hashlib.sha256(oracle).hexdigest() != meta["oracle_sha256"]:
            raise InputDrift(f"cached oracle {oracle_file} does not match its digest")
        return TranscriptInput(d, meta["rows"], meta["content_sha256"], oracle)

    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    jobs = [
        [plain_only, seed, lo, hi, n_convs, str(d / f"part-{k:05d}.parquet"), with_oracle]
        for k, (lo, hi) in enumerate(_shard_bounds(n_convs, scale.shards))
    ]
    _run_shards(jobs)
    results, oracle = [], b""
    for j in jobs:
        side = Path(j[5] + ".json")
        results.append(json.loads(side.read_text()))
        side.unlink()
        if with_oracle:
            side = Path(j[5] + ".oracle")
            oracle += side.read_bytes()
            side.unlink()
    content = hashlib.sha256("".join(r["sha256"] for r in results).encode()).hexdigest()
    meta = {
        "workload": workload,
        "seed": seed,
        "scale": scale.name,
        "rows": sum(r["rows"] for r in results),
        "content_sha256": content,
        "oracle_sha256": hashlib.sha256(oracle).hexdigest(),
        "files": {Path(j[5]).name: _sha256_file(Path(j[5])) for j in jobs},
    }
    if with_oracle:
        oracle_file.write_bytes(oracle)
    meta_file.write_text(json.dumps(meta, indent=1))
    return TranscriptInput(d, meta["rows"], content, oracle)


# ---------------------------------------------------------------------------
# Curation table (sf0.1 documents shape)
# ---------------------------------------------------------------------------

_DOC_VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()
_LANGS = np.array(["en", "de", "es", "fr", "zh"])
_LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]

#: the tables the curation queries read (their oracle SQL names no other)
TABLES = ("documents",)


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Word-salad documents over a 31-word vocabulary (10-100 words), with
    ~5% near duplicates (an earlier document plus ' dup') and a few exact
    duplicates, as in the sf0.1 documents table."""
    vocab = np.array(_DOC_VOCAB)
    texts: list[str] = []
    n_exact = max(1, n // 600)
    exact_at = set(rng.choice(np.arange(n // 2, n), n_exact, replace=False).tolist())
    for i in range(n):
        if i in exact_at:
            texts.append(texts[int(rng.integers(0, i))])
        elif i > 10 and rng.random() < 0.05:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
        else:
            texts.append(" ".join(vocab[rng.integers(0, len(vocab), int(rng.integers(10, 101)))]))
    return pa.table({
        "doc_id": np.arange(n, dtype=np.int64),
        "text": texts,
        "lang": _LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)],
        "source": [f"src{i % 20}" for i in range(n)],
        "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
    })


def _build_tables(scale: Scale) -> dict[str, pa.Table]:
    return {"documents": _documents(np.random.default_rng(42), scale.documents)}


def _table_digest(tbl: pa.Table) -> str:
    """Content digest independent of parquet encoding."""
    h = hashlib.sha256()
    for name in tbl.column_names:
        col = tbl.column(name).combine_chunks()
        h.update(name.encode())
        if pa.types.is_string(col.type):
            h.update("\0".join(col.to_pylist()).encode())
        else:
            h.update(col.to_numpy(zero_copy_only=False).tobytes())
    return h.hexdigest()


def tables_digest(tables: dict[str, pa.Table]) -> str:
    return hashlib.sha256(
        "".join(f"{n}:{_table_digest(tables[n])}" for n in TABLES).encode()
    ).hexdigest()


def curation_tables(scale: Scale) -> tuple[Path, str]:
    """Build (or verify and reuse) the curation tables; returns the table
    directory (``<dir>/<table>.parquet``) and its pinned content digest."""
    want = _load_pins()["curation_tables"][scale.name]
    d = CACHE / f"v{INPUT_VERSION}" / f"tables-{scale.name}"
    meta_file = d / "_META.json"
    if meta_file.exists():
        meta = json.loads(meta_file.read_text())
        if meta["content_sha256"] != want:
            raise InputDrift(f"cached tables {d} were built for another pin")
        for name, digest in meta["files"].items():
            if _sha256_file(d / name) != digest:
                raise InputDrift(f"cached table {d / name} does not match its digest")
        return d, want
    tables = _build_tables(scale)
    got = tables_digest(tables)
    if got != want:
        raise InputDrift(
            f"curation tables ({scale.name}) digest {got[:16]} != pinned "
            f"{want[:16]}: the generator or numpy changed the data"
        )
    shutil.rmtree(d, ignore_errors=True)
    d.mkdir(parents=True)
    files = {}
    for name, tbl in tables.items():
        pq.write_table(tbl, d / f"{name}.parquet")
        files[f"{name}.parquet"] = _sha256_file(d / f"{name}.parquet")
    meta_file.write_text(json.dumps({"content_sha256": got, "files": files}, indent=1))
    return d, got


if __name__ == "__main__":
    # child process of _run_shards: python3 inputs.py shards '<json job list>'
    sys.path[:0] = [str(HERE), str(HERE.parent)]
    for job in json.loads(sys.argv[2]):
        _gen_shard(*job)
