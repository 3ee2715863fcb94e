"""Correctness gate: each call's output against its DuckDB oracle.

Outputs compare as an order-insensitive fingerprint: sorted column names,
row count and the SHA-256 of the sorted canonical row strings.  The
canonical form is the benchmark's own (it does not import the program's
verifier, so a change to the program cannot move the yardstick): NULL and
NaN read alike, integral floats read as integers (pandas turns a nullable
integer column into floats), midnight timestamps read as dates, and the
rest as `repr`.

Goldens for the fixed input tables live in `goldens.json`, keyed by the
data directory's name and guarded by the parquet file sizes; the gate
refuses any other data.  `make_goldens.py` rewrites them from the DuckDB
oracles (`duck_views`, `live_golden`).
"""

from __future__ import annotations

import datetime as dt
import hashlib
import json
import math
import os
from decimal import Decimal

GOLDENS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "goldens.json")
TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def canon_cell(v) -> str:
    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT or v is pd.NA:
        return "~"
    if isinstance(v, (bool, np.bool_)):
        return str(bool(v))
    if isinstance(v, (int, np.integer)):
        return str(int(v))
    if isinstance(v, (float, np.floating)):
        v = float(v)
        if math.isnan(v):
            return "~"
        if v.is_integer() and abs(v) < 2**53:
            return str(int(v))
        return repr(v)
    if isinstance(v, Decimal):
        return canon_cell(int(v)) if v == v.to_integral_value() else str(v.normalize())
    if isinstance(v, dt.datetime):
        if v.time() == dt.time(0):
            return v.date().isoformat()
        return v.isoformat()
    if isinstance(v, dt.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(canon_cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon_cell(v[k])}" for k in sorted(v)) + "}"
    return str(v)


def fingerprint(pdf) -> dict:
    """Order-insensitive fingerprint of a pandas frame."""
    cols = sorted(pdf.columns)
    rows = sorted(
        "\x1f".join(canon_cell(v) for v in row)
        for row in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return {"columns": cols, "rows": len(rows), "sha256": h.hexdigest()}


def data_identity(sf_dir: str) -> dict:
    return {t: os.path.getsize(f"{sf_dir}/{t}.parquet") for t in TABLES}


def oracle_sql(call) -> str:
    from secdb_spark.registry import all_oracles

    sql = all_oracles()[call.check]
    return call.oracle_wrap.format(oracle=sql) if call.oracle_wrap else sql


def duck_views(sf_dir: str):
    """DuckDB connection with the catalog tables of `sf_dir` as views."""
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def live_golden(call, con) -> dict:
    """Run the call's oracle on a `duck_views` connection, fingerprinted."""
    return fingerprint(con.execute(oracle_sql(call)).fetchdf())


class Gate:
    """Frozen expected fingerprints for one data directory.

    Raises when `goldens.json` has no entry for the directory or its
    parquet sizes differ: the gate never falls back to oracles that the
    code under test supplies."""

    def __init__(self, sf_dir: str) -> None:
        name = os.path.basename(sf_dir.rstrip("/"))
        with open(GOLDENS_PATH) as fh:
            entry = json.load(fh).get(name)
        if entry is None:
            raise LookupError(f"no goldens for {name} in {GOLDENS_PATH}")
        if entry["data"] != data_identity(sf_dir):
            raise LookupError(f"{sf_dir} differs from the data its goldens were made on")
        self._goldens = entry["checks"]

    def check(self, call, df) -> str | None:
        """None when `df` (the call's built output) matches, else why not."""
        want = self._goldens[call.id]
        if call.project is not None:
            df = call.project(df)
        got = fingerprint(df.toPandas())
        if got == want:
            return None
        if got["columns"] != want["columns"]:
            return f"{call.id}: columns {got['columns']}, want {want['columns']}"
        if got["rows"] != want["rows"]:
            return f"{call.id}: {got['rows']} rows, want {want['rows']}"
        return f"{call.id}: values differ"
