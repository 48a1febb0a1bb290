"""Oracle dtype hygiene (r4 VERDICT #1/#8).

The round-3/4 red driver row (``group_hits_subcorpus_lang``) was NOT
an engine bug: DuckDB's ``sum()`` over integers returns HUGEINT, which
``fetchdf()`` surfaces as float64 (``11757.0``) while Spark emits
int64 (``11757``).  The driver's canonicalizer stringifies the two
differently; the local one absorbed it.  This module closes the bug
class forever: every registered oracle is DESCRIBEd and

- NO output column may be HUGEINT (cast sums to BIGINT), and
- DOUBLE/FLOAT is allowed only for genuinely-fractional score/ratio
  columns (allowlisted by name) — counts, token totals, and ids must
  be integer-typed on the oracle side so both engines render them
  identically.

Runs against the sf0.001 views; DESCRIBE only plans (never executes),
so the whole sweep is sub-second for all ~125 oracles.
"""

from __future__ import annotations

import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

#: columns that are genuinely fractional on both sides (each oracle
#: rounds them identically to the engine's rounding, verified by the
#: value-hash gates) — everything else must be integer/str/bool typed
FLOAT_OK = {
    "score", "jaccard", "cosine", "sw_ratio", "mean_token_len",
    "stopword_ratio", "quality", "dup_ratio",
}


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(SF_DIR, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _oracles() -> dict[str, str]:
    return entry_mod.oracle_sql()


@pytest.mark.parametrize("name", sorted(_oracles()))
def test_oracle_output_types(duck, name):
    sql = _oracles()[name]
    desc = duck.execute("DESCRIBE " + sql).fetchall()
    for col, typ, *_ in desc:
        tu = typ.upper()
        assert "HUGEINT" not in tu, (
            f"{name}: column {col!r} is {typ} — DuckDB HUGEINT renders "
            f"as float64 in pandas and hash-mismatches Spark's int64; "
            f"CAST the aggregate to BIGINT in the oracle SQL")
        if tu in ("DOUBLE", "FLOAT", "REAL") or tu.startswith("DECIMAL"):
            assert col in FLOAT_OK, (
                f"{name}: column {col!r} is {typ} but not in the "
                f"fractional allowlist {sorted(FLOAT_OK)} — integer "
                f"quantities must be integer-typed on the oracle side "
                f"(the r3 rel_freq lesson: scale to _e9 BIGINT instead)")


def test_strict_types_checks_every_object_value():
    """--strict-types classifies an object column by ALL its non-null
    values: one stray value after the first 50 keeps it 'O'."""
    import pandas as pd
    from tools.gate_compare import _dtype_kind
    assert _dtype_kind(pd.Series([7] * 51, dtype=object)) == "i"
    assert _dtype_kind(pd.Series([True] * 51, dtype=object)) == "b"
    assert _dtype_kind(pd.Series([7] * 50 + ["7"], dtype=object)) == "O"
    assert _dtype_kind(pd.Series([True] * 50 + [1], dtype=object)) == "O"
