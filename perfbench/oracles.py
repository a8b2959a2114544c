"""Committed DuckDB-twin results for the benchmark's queries.

A run compares each query's Spark result with the result of its
``oracle_sql()`` twin on DuckDB, normalized as tests/test_oracle_parity.py
normalizes them. The twin results are recorded once into
``expected_queries.json`` (row count, arrow types, digest of the normalized
rows) because building every oracle text writes all of the fixtures (~8s)
and the ``model_train_eval`` twin alone takes ~60s on DuckDB, which a
benchmark run cannot afford. The oracle texts are pinned byte-identical
across changes, so the recorded results stay the twin's results.

Re-record from the repository root (needs no Spark session):

    python3 perfbench/oracles.py
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
EXPECTED = os.path.join(HERE, "expected_queries.json")


# -- normalization: the same rules as tests/test_oracle_parity.py ----------
def _norm_val(v):
    if isinstance(v, decimal.Decimal):
        return f"{v:.6f}"
    if isinstance(v, float):
        return f"{v:.6f}" if math.isfinite(v) else repr(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:  # arrow ltz → naive UTC (session tz is UTC)
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    return v


def _arrow_types(tbl) -> dict[str, str]:
    import pyarrow as pa

    return {
        f.name.lower(): "timestamp" if pa.types.is_timestamp(f.type) else str(f.type)
        for f in tbl.schema
    }


def summarize(tbl) -> dict:
    """Row count, arrow types and a digest of the normalized rows of an
    arrow table (column-name-sorted, rows sorted by repr)."""
    cols = [c.lower() for c in tbl.column_names]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r.values()) for r in tbl.to_pylist()]
    norm = sorted((tuple(_norm_val(r[i]) for i in order) for r in rows), key=repr)
    digest = hashlib.sha256("\n".join(repr(r) for r in norm).encode()).hexdigest()
    return {"rows": len(rows), "types": _arrow_types(tbl), "sha256": digest}


def record() -> None:
    """Run each benchmark query's DuckDB twin on the vendored tables."""
    import duckdb

    root = os.path.dirname(HERE)
    sys.path.insert(0, root)
    import tempfile

    import run  # noqa: E402 — fixture writers must land in a scratch dir
    from workloads import QUERY_SET

    with tempfile.TemporaryDirectory() as tmp:
        run._redirect_fixture_dir(tmp)
        import __spark_entry__ as E

        oracles = E.oracle_sql()
        out: dict[str, dict] = {}
        for sf in ("sf0.001", "sf0.01"):
            data = os.path.join(HERE, "data", sf)
            con = duckdb.connect()
            for f in sorted(os.listdir(data)):
                con.execute(f"CREATE VIEW {f[: -len('.parquet')]} AS SELECT * FROM '{data}/{f}'")
            res = {}
            for name in QUERY_SET:
                tbl = con.execute(oracles[name]).arrow()
                res[name] = summarize(tbl.read_all() if hasattr(tbl, "read_all") else tbl)
            con.close()
            out[sf] = res
    with open(EXPECTED, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    record()
