"""Correctness gate: canonical result digests and expected results.

A result is reduced to one sha256 digest of its canonical form, the one
the oracle tests use (``tests/conftest.py::normalize``: columns sorted
by name, datetimes as ISO strings, rows sorted by every column), with
each cell rendered so that engines agreeing on a value agree on its
text: NULL
and NaN as one token, integral numbers without a fractional part,
other floats by ``repr``. The expected digest of a registry query is
its DuckDB ``ORACLES`` entry run over the same inputs; it is computed
once per input (per seed where the seed shapes the input) and cached
under the benchmark's work directory.
"""

from __future__ import annotations

import hashlib
import json
import math
import numbers
import os

import pandas as pd

from tests.conftest import normalize


def _cell(v) -> str:
    if v is None or v is pd.NA or v is pd.NaT:
        return "\x00"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, numbers.Integral):
        return str(int(v))
    if isinstance(v, numbers.Real):
        f = float(v)
        if math.isnan(f):
            return "\x00"
        return str(int(f)) if f.is_integer() and abs(f) < 2**63 else repr(f)
    return str(v)


def digest(df: pd.DataFrame) -> str:
    """sha256 of the canonical form of ``df`` (column names included)."""
    norm = normalize(df)
    h = hashlib.sha256("\x1f".join(norm.columns).encode())
    for row in norm.itertuples(index=False, name=None):
        h.update(b"\x1e" + "\x1f".join(_cell(v) for v in row).encode())
    return h.hexdigest()


class Outcomes:
    """Attempted and failed operations of one run. An operation fails
    when it raises or when its result digest differs from the expected
    one."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []

    def record(self, name: str, got: str, want: str) -> bool:
        self.attempted += 1
        if got != want:
            self.failed += 1
            self.errors.append(f"{name}: result {got} != expected {want}")
        return got == want

    def raised(self, name: str, exc: BaseException) -> None:
        self.attempted += 1
        self.failed += 1
        self.errors.append(f"{name}: {type(exc).__name__}: {exc}"[:500])

    @property
    def failed_share(self) -> float:
        return self.failed / self.attempted if self.attempted else 1.0


def oracle_digests(star_dir: str, names: list[str], oracles: dict[str, str]) -> dict[str, str]:
    """Expected digests of registry queries from their DuckDB oracles."""
    import duckdb

    from business_intelligence_and_data_warehouse_spark.sources.testdata import TABLES

    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{star_dir}/{t}.parquet')"
            )
        return {n: digest(con.execute(oracles[n]).df()) for n in names}
    finally:
        con.close()


def cached(path: str, compute):
    """The JSON value stored at ``path``, computing and storing it on
    first use."""
    if os.path.exists(path):
        with open(path) as fh:
            return json.load(fh)
    value = compute()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    tmp = f"{path}.tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump(value, fh, indent=1, sort_keys=True)
    os.replace(tmp, path)
    return value
