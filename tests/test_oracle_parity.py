"""Pre-verify the driver's correctness gate: run every queries() entry on
Spark AND its oracle_sql() on DuckDB at sf0.001, compare row sets exactly
(sorted columns, sorted rows, value-level comparison with float tolerance 0
— the driver hashes values, so we demand equality)."""

from __future__ import annotations

import math
import os

import duckdb
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'")
    return con


def _norm(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for r in rows:
        vals = []
        for i in order:
            v = r[i]
            if isinstance(v, float):
                v = float(v)
            vals.append(v)
        out.append(tuple(vals))
    out.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [c for c in sorted(cols)], out


def _eq(a, b):
    if isinstance(a, float) and isinstance(b, float):
        if math.isnan(a) and math.isnan(b):
            return True
        return a == b
    return a == b


QUERIES = sorted(entry_mod.oracle_sql().keys())


@pytest.mark.parametrize("name", QUERIES)
def test_query_matches_oracle(spark, ddb, name):
    q = entry_mod.queries()[name]
    sdf = q(spark, SF_DIR)
    scols = sdf.columns
    srows = [tuple(r) for r in sdf.collect()]

    res = ddb.execute(entry_mod.oracle_sql()[name])
    dcols = [d[0] for d in res.description]
    drows = res.fetchall()

    assert sorted(scols) == sorted(dcols), f"{name}: column sets differ"
    sc, sr = _norm(srows, scols)
    dc, dr = _norm(drows, dcols)
    assert len(sr) == len(dr), (
        f"{name}: row count {len(sr)} (spark) vs {len(dr)} (duckdb)")
    for i, (a, b) in enumerate(zip(sr, dr)):
        for j, (x, y) in enumerate(zip(a, b)):
            assert _eq(x, y), (
                f"{name}: row {i} col {sc[j]}: spark={x!r} duckdb={y!r}")


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    assert df.count() > 0


def test_rows_only_queries(spark):
    qs = entry_mod.queries()
    for name in set(qs) - set(entry_mod.oracle_sql()):
        df = qs[name](spark, SF_DIR)
        assert df.count() >= 0, name


def test_roundtrip_fixtures_stay_under_scratch_root(spark, own_scratch):
    """Fixture-writing queries add nothing to the temp directory but the
    per-process scratch root, and removing that root removes them all."""
    from gdal_spark.core import vsi
    for name in ("png_roundtrip", "kml_roundtrip"):
        assert entry_mod.queries()[name](spark, SF_DIR).count() > 0
    (root,) = os.listdir(own_scratch)
    assert root.startswith("gdal_spark_")
    assert os.listdir(own_scratch / root)
    vsi.remove_scratch()
    assert os.listdir(own_scratch) == []
