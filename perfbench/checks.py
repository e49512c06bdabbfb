"""Correctness checks, run outside the timed region of every run.

* spectra workloads: pipeline output of a seeded document sample
  against ``oracle.run_document``, by ``spans.span_sequence_hash``;
* curation: each query's rows against its DuckDB oracle, cell-exact;
* stream: streamed per-DM series against the oracle (stream == batch).

Each function returns a list of mismatch descriptions; every entry
counts as one failed operation.
"""

from __future__ import annotations

import base64
import math

import numpy as np

from dragnet_spark.oracle import run_document
from dragnet_spark.spans import span_sequence_hash


def span_hashes(rows) -> dict[str, str]:
    """Output span rows (doc_id, seq, kind, text, media_ref) -> hash of
    each document's span sequence in ``seq`` order."""
    per: dict[str, list] = {}
    for r in rows:
        if r["kind"] == "metrics":
            continue
        per.setdefault(r["doc_id"], []).append(
            (r["seq"], {"kind": r["kind"], "text": r["text"],
                        "media_ref": r["media_ref"]}))
    return {d: span_sequence_hash([s for _, s in sorted(v, key=lambda x: x[0])])
            for d, v in per.items()}


def check_span_hashes(got: dict[str, str], docs: list[dict], cfg,
                      mask=None) -> list[str]:
    bad = []
    for doc in docs:
        want = span_sequence_hash(run_document(doc, cfg, mask)["spans"])
        have = got.get(doc["doc_id"])
        if have != want:
            bad.append(f"{doc['doc_id']}: span hash {have} != oracle {want}")
    return bad


# --------------------------------------------------------------------------
# Curation: Spark rows vs DuckDB rows, cell-exact after canonical sorting.
# --------------------------------------------------------------------------

def _canon(df):
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def _cell_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return False
        return (math.isnan(fa) and math.isnan(fb)) or fa == fb
    return a == b


def compare_frames(name: str, got, want) -> list[str]:
    if sorted(got.columns) != sorted(want.columns):
        return [f"{name}: columns {sorted(got.columns)} != "
                f"{sorted(want.columns)}"]
    if len(got) != len(want):
        return [f"{name}: {len(got)} rows != oracle {len(want)}"]
    g, w = _canon(got), _canon(want)
    for col in g.columns:
        for i, (x, y) in enumerate(zip(g[col], w[col])):
            if not _cell_equal(x, y):
                return [f"{name}: row {i} col {col}: {x!r} != oracle {y!r}"]
    return []


def duckdb_results(table_path: str, names: list[str]) -> dict:
    """Each named query's DuckDB oracle over the generated table."""
    import duckdb

    from dragnet_spark.oracle_sql import EXTRA_ORACLE_SQL, ORACLE_SQL
    sql = {**ORACLE_SQL, **EXTRA_ORACLE_SQL}
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{table_path}'")
        return {n: con.sql(sql[n]).df() for n in names}
    finally:
        con.close()


# --------------------------------------------------------------------------
# Stream: reassembled per-DM series vs the oracle.
# --------------------------------------------------------------------------

def check_stream_docs(rows, docs: list[dict], cfg, mask) -> list[str]:
    """``rows``: sink rows (doc_id, dm_index, out_offset, series, metrics)
    of the sampled documents; ``docs``: the same documents as
    ``{doc_id, spans}`` rows."""
    import json
    per: dict[str, dict[int, list]] = {}
    done: dict[str, dict] = {}
    for r in rows:
        if r["dm_index"] >= 0:
            per.setdefault(r["doc_id"], {}).setdefault(r["dm_index"], []) \
                .append((r["out_offset"], bytes(r["series"])))
        elif r["dm_index"] == -1:
            done[r["doc_id"]] = json.loads(r["metrics"])
    bad = []
    for doc in docs:
        did = doc["doc_id"]
        want = run_document(doc, cfg, mask)
        ts = [s["text"] for s in want["spans"] if s["kind"] == "timeseries"]
        got = per.get(did, {})
        have = [base64.b64encode(b"".join(
            p for _, p in sorted(got.get(d, [])))).decode("ascii")
            for d in range(len(ts))]
        if have != ts or len(got) != len(ts):
            bad.append(f"{did}: streamed series differ from the oracle")
        m = done.get(did)
        if m is None or any(m.get(k) != v for k, v in want["metrics"].items()):
            bad.append(f"{did}: done row {m} != oracle {want['metrics']}")
    return bad


def doc_from_strips(doc_id: str, header, payloads: list[bytes]) -> dict:
    """Rebuild a streamed document as a ``{doc_id, spans}`` row."""
    from dragnet_spark.spans import encode_document
    data = np.frombuffer(b"".join(payloads), dtype=np.uint8) \
        .reshape(-1, header.nchan)
    return encode_document(doc_id, header, data)
