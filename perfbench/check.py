"""Output checks: each job's output against a single-node replay.

Extraction: every ``EXTRACT_SCHEMA`` field of every turn, keyed by
``(conv_id, turn_idx)``, must equal ``udf.extract_row`` run in-process on
the same input, with dates coerced to pandas timestamps as the UDF's Arrow
frame does.

Corpus prep: the packed sequence and token counts and every packed row must
equal the DuckDB replay of the repository's ``q_corpus_prep`` oracle SQL over
that same single-node extraction. The packed rows are the chain's output, so
a gate, dedup or decontamination difference shows in them; the survivor
counts are not replayed separately, which would double the oracle's cost.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
from pathlib import Path

import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

_EPOCH = dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)


def _fields() -> list[str]:
    from snacktory_spark.schema import EXTRACT_SCHEMA
    return [f.name for f in EXTRACT_SCHEMA.fields]


def _canon(v):
    """Arrow, pandas and Python values of one field to one JSON-able form;
    timestamps become integer microseconds since the epoch in UTC."""
    if v is None:
        return None
    if hasattr(v, "value") and hasattr(v, "tz_localize"):  # pandas Timestamp
        return None if v != v else int(v.value) // 1000
    if isinstance(v, dt.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=dt.timezone.utc)
        return (v - _EPOCH) // dt.timedelta(microseconds=1)
    if isinstance(v, dict):
        return {k: _canon(x) for k, x in v.items()}
    if isinstance(v, (list, tuple)):
        return [_canon(x) for x in v]
    if hasattr(v, "tolist"):  # numpy arrays and scalars
        return _canon(v.tolist())
    return v


def _line(rec: dict, fields: list[str]) -> str:
    return json.dumps([_canon(rec[f]) for f in fields], sort_keys=True,
                      ensure_ascii=False)


def reference_lines(rows: list[tuple], results: list[dict]) -> dict:
    """(conv_id, turn_idx) -> canonical line of the single-node results."""
    import pandas as pd

    fields = _fields()
    lines = {}
    for r, res in zip(rows, results):
        rec = dict(res, date=pd.to_datetime(res["date"], utc=True, errors="coerce"))
        lines[(r[0], r[1])] = _line(rec, fields)
    return lines


def output_lines(path: Path) -> dict:
    fields = _fields()
    table = ds.dataset(path, format="parquet", partitioning="hive").to_table(
        columns=["conv_id", "turn_idx", *fields])
    return {(rec["conv_id"], rec["turn_idx"]): _line(rec, fields)
            for rec in table.to_pylist()}


def digest(lines: dict) -> str:
    h = hashlib.sha256()
    for key in sorted(lines):
        h.update(f"{key[0]}\t{key[1]}\t{lines[key]}\n".encode("utf-8"))
    return h.hexdigest()[:16]


def mismatches(ref: dict, out: dict) -> int:
    """Rows missing, extra or different."""
    return (sum(out.get(k) != v for k, v in ref.items())
            + len(out.keys() - ref.keys()))


def corpus_prep_oracle(rows: list[tuple], results: list[dict],
                       work: Path) -> dict:
    """Replay q_corpus_prep's DuckDB oracle over this workload's input and
    its single-node extraction."""
    import duckdb

    import __spark_entry__ as entry

    tr, ee = work / "oracle_transcripts.parquet", work / "oracle_extracted.parquet"
    pq.write_table(pa.table({
        "conv_id": [r[0] for r in rows],
        "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
        "role": [r[2] for r in rows]}), tr)
    pq.write_table(pa.table({
        "conv_id": [r[0] for r in rows],
        "turn_idx": pa.array([r[1] for r in rows], pa.int32()),
        "text": [res["text"] for res in results],
        "extract_ok": [bool(res["extract_ok"]) for res in results]}), ee)

    sql = entry.oracle_sql()["corpus_prep"]
    for old, new in ((f"{entry.SF01_DIR}/transcripts.parquet", tr),
                     (f"{entry.SF01_DIR}/expected_extraction.parquet", ee)):
        if old not in sql:
            raise RuntimeError(f"corpus_prep oracle SQL no longer reads {old}")
        sql = sql.replace(old, str(new))
    con = duckdb.connect()
    try:
        packed = con.execute(sql).fetchall()
    finally:
        con.close()
    return {"n_sequences": len(packed),
            "n_tokens_packed": sum(r[2] for r in packed),
            "packed": sorted(tuple(r) for r in packed)}


def packed_rows(path: Path) -> list[tuple]:
    table = ds.dataset(path, format="parquet").to_table(
        columns=["role", "seq_idx", "n_tokens", "first_tok", "last_tok"])
    return sorted(tuple(r.values()) for r in table.to_pylist())


def corpus_prep_mismatches(oracle: dict, metrics: dict, out: Path) -> list[str]:
    bad = [k for k in ("n_sequences", "n_tokens_packed")
           if metrics.get(k) != oracle[k]]
    if packed_rows(out / "packed") != oracle["packed"]:
        bad.append("packed")
    return bad
