"""Output checks. Each returns a mismatch count; any mismatch fails the run.

* extract_mixed: an order-sensitive per-turn digest of
  (conv_id, turn_idx, extracted_text, n_regions) against the scalar oracle
  ``oracle/extract.py`` (computed once per input, see inputs.py).
* resume_chat: after crash + resume, every input (conv_id, turn_idx) appears
  exactly once in the written output, with extracted_text == text.strip().
* curate_sf0.1: every query's rows against its ``oracle_sql()`` in DuckDB,
  normalized the way tests/test_queries_vs_duckdb.py normalizes them.
"""

from __future__ import annotations

import hashlib
import json
import math
from pathlib import Path

import pyarrow.dataset as ds
import pyarrow.parquet as pq


def turn_digest(conv_id: str, turn_idx: int, text: str, n_regions: int) -> bytes:
    line = json.dumps([conv_id, int(turn_idx), text, int(n_regions)], separators=(",", ":"))
    return hashlib.blake2b(line.encode(), digest_size=16).digest()


def extraction_mismatches(rows, oracle: bytes) -> int:
    """rows: engine output rows in output order, each
    (conv_id, turn_idx, extracted_text, n_regions). Position-wise compare, so
    an ordering defect counts too."""
    got = [turn_digest(*r) for r in rows]
    want = [oracle[i:i + 16] for i in range(0, len(oracle), 16)]
    return sum(a != b for a, b in zip(got, want)) + abs(len(got) - len(want))


def resume_mismatches(input_dir: Path, data_root: Path) -> int:
    src = pq.read_table(input_dir, columns=["conv_id", "turn_idx", "text"])
    expected = {
        (c, t): x.strip()
        for c, t, x in zip(src["conv_id"].to_pylist(), src["turn_idx"].to_pylist(),
                           src["text"].to_pylist())
    }
    out = ds.dataset(data_root, format="parquet", partitioning="hive").to_table(
        columns=["conv_id", "turn_idx", "extracted_text"]
    )
    seen: set = set()
    bad = 0
    for c, t, x in zip(out["conv_id"].to_pylist(), out["turn_idx"].to_pylist(),
                       out["extracted_text"].to_pylist()):
        key = (c, t)
        if key in seen or expected.get(key) != x:
            bad += 1
        seen.add(key)
    return bad + len(expected.keys() - seen)


# --- curate_sf0.1 ----------------------------------------------------------


def _normalize(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    if isinstance(v, int):
        return float(v) if abs(v) < 2**52 else v
    if isinstance(v, (list, tuple)):
        return [_normalize(x) for x in v]
    if isinstance(v, dict):
        return {k: _normalize(x) for k, x in sorted(v.items())}
    return v


def rows_digest(cols: list[str], rows) -> tuple[int, str]:
    """(row count, digest of the column-name-ordered, sorted, normalized rows)."""
    cols = [c.lower() for c in cols]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    norm = sorted(
        json.dumps([_normalize(r[i]) for i in order], default=str) for r in rows
    )
    h = hashlib.sha256(json.dumps([cols[i] for i in order]).encode())
    for line in norm:
        h.update(line.encode())
        h.update(b"\n")
    return len(norm), h.hexdigest()


def duckdb_expected(table_dir: Path, sql_by_query: dict[str, str]) -> dict[str, list]:
    """Run each oracle SQL in DuckDB over the curation tables."""
    import duckdb

    from inputs import TABLES

    con = duckdb.connect()
    con.execute("SET threads=4")
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{table_dir}/{t}.parquet'")
        out = {}
        for name, sql in sql_by_query.items():
            rel = con.sql(sql)
            out[name] = list(rows_digest(rel.columns, rel.fetchall()))
        return out
    finally:
        con.close()
