"""Correctness checks, run on DuckDB over the same parquet the program read.

Every check returns a list of failure messages; an empty list is a pass.
"""

from __future__ import annotations

import importlib.util
import os

import duckdb


def _pages_view(con, pages_path: str) -> None:
    con.execute("CREATE OR REPLACE VIEW pages AS SELECT * FROM "
                f"read_parquet('{pages_path}/*.parquet')")


class JoinOracle:
    """Expected `pip_counts`, `tile_density` and `overview` of the canonical
    job, from the program's own oracle fragments: the analytic grid-region
    predicate, the half-plane convex-polygon test and the DuckDB twin of
    the mercator pixel math."""

    def __init__(self, pages_path: str, n_pages: int):
        from gdal_spark import datagen
        from gdal_spark.core import tilemath

        self.n_pages = n_pages
        self.con = duckdb.connect()
        _pages_view(self.con, pages_path)
        grid = datagen.grid_pip_oracle_predicate()
        convex = datagen.convex_pip_oracle_sql("pages")
        self.con.execute(f"""
            CREATE TABLE exp_pip AS
            SELECT {grid} AS region_id, count(*) AS n_pages
            FROM pages GROUP BY 1
            UNION ALL
            SELECT region_id, n_pages FROM {convex} c WHERE n_pages > 0""")
        gpx, gpy = tilemath.mercator_pixel_sql("lon", "lat", 3)
        self.con.execute(f"""
            CREATE TABLE exp_px AS
            SELECT gpx, gpy, count(*) AS burn
            FROM (SELECT {gpx} AS gpx, {gpy} AS gpy FROM pages)
            GROUP BY 1, 2""")
        self.con.execute("""
            CREATE TABLE exp_tiles AS
            SELECT gpx >> 8 AS tile_x, gpy >> 8 AS tile_y,
                   gpx & 255 AS px, gpy & 255 AS py, burn FROM exp_px""")
        self.con.execute("""
            CREATE TABLE exp_overview AS
            SELECT gpx >> 1 AS px_up, gpy >> 1 AS py_up, sum(burn) AS burn
            FROM exp_px GROUP BY 1, 2""")

    def _diff(self, table: str, out_dir: str, cols: str) -> int:
        got = f"(SELECT {cols} FROM read_parquet('{out_dir}/*.parquet'))"
        exp = f"(SELECT {cols} FROM {table})"
        return self.con.execute(
            f"SELECT (SELECT count(*) FROM ({got} EXCEPT ALL {exp})) + "
            f"(SELECT count(*) FROM ({exp} EXCEPT ALL {got}))").fetchone()[0]

    def check(self, job_dir: str) -> list[str]:
        fails = []
        for stage, table, cols in (
                ("pip_counts", "exp_pip", "region_id, n_pages"),
                ("tile_density", "exp_tiles", "tile_x, tile_y, px, py, burn"),
                ("overview", "exp_overview", "px_up, py_up, burn")):
            out = os.path.join(job_dir, stage)
            try:
                bad = self._diff(table, out, cols)
            except duckdb.Error as e:
                fails.append(f"{stage}: unreadable output ({e})")
                continue
            if bad:
                fails.append(f"{stage}: {bad} rows differ from the oracle")
        for stage in ("tile_density", "overview"):
            out = os.path.join(job_dir, stage)
            try:
                total = self.con.execute(
                    f"SELECT sum(burn) FROM read_parquet('{out}/*.parquet')"
                ).fetchone()[0]
            except duckdb.Error:
                continue            # already reported above
            if total != self.n_pages:
                fails.append(f"{stage}: sum(burn) {total} != "
                             f"{self.n_pages} pages")
        return fails

    def close(self) -> None:
        self.con.close()


def _check_script():
    """scripts/check_correctness.py, whose `norm` and `eq` define how a
    query result is compared with its oracle."""
    path = os.path.join(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))), "scripts", "check_correctness.py")
    spec = importlib.util.spec_from_file_location("check_correctness", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryOracle:
    """Each query's `queries.ORACLE` twin, run once on DuckDB; every Spark
    execution is compared with it the way scripts/check_correctness.py
    compares them: column set, row count, sorted values."""

    def __init__(self, sf_dir: str, names, tables):
        from gdal_spark.queries import ORACLE

        check = _check_script()
        self.norm, self.eq = check.norm, check.eq
        self.expected = {}
        with duckdb.connect() as con:
            for t in tables:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                            f"'{sf_dir}/{t}.parquet'")
            for name in names:
                res = con.execute(ORACLE[name])
                cols = [d[0] for d in res.description]
                self.expected[name] = (sorted(cols),
                                       self.norm(res.fetchall(), cols))

    def check(self, name: str, cols, rows) -> list[str]:
        ecols, erows = self.expected[name]
        if sorted(cols) != ecols:
            return [f"{name}: columns {sorted(cols)} != {ecols}"]
        if len(rows) != len(erows):
            return [f"{name}: {len(rows)} rows != {len(erows)}"]
        for i, (a, b) in enumerate(zip(self.norm(rows, cols), erows)):
            if not all(self.eq(x, y) for x, y in zip(a, b)):
                return [f"{name}: row {i} {a} != {b}"]
        return []
