"""Seeded benchmark inputs. The same seed gives the same files.

The program only ever sees parquet: the page table of the join workloads,
written here from the seed, and the sf0.1 tables under data/ that the
headline queries read (the seed orders those queries, see workloads.py).
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_JOIN_PAGES = 500_000
PAGE_PARTITIONS = 8           # range partitions of the cell-sorted table
HOT_SHARE = 0.8               # share of join_hotspot pages in cities
N_CITIES = 8
CITY_SIGMA_DEG = 0.15
CITY_LAYOUT_SEED = 8          # fixes where the cities are; --seed draws pages
MAX_LAT = 85.0


def city_corners() -> np.ndarray:
    """Candidate city centres: interior corners of the 10 x 5 degree grid
    regions with |lat| <= 60, outside every convex region's envelope, so
    each city meets the same four grid boundaries whatever the seed."""
    from gdal_spark import datagen

    cx, cy = np.meshgrid(np.arange(-170.0, 171.0, 10.0),
                         np.arange(-60.0, 61.0, 5.0))
    x, y = cx.ravel(), cy.ravel()
    keep = np.ones(len(x), dtype=bool)
    pad = 4 * CITY_SIGMA_DEG
    for r in datagen.regions_pdf().query("kind == 'convex'").itertuples():
        keep &= ~((x > r.xmin - pad) & (x < r.xmax + pad)
                  & (y > r.ymin - pad) & (y < r.ymax + pad))
    return np.column_stack([x[keep], y[keep]])


def page_coords(seed: int, n: int, hotspot: bool):
    """(lon, lat) of `n` pages. Uniform pages cover lon [-180, 180) and
    lat [-85, 85). Hotspot pages put HOT_SHARE of the pages into N_CITIES
    Gaussian cities, city sizes Zipf-weighted (1/rank); the rest stay
    uniform. The cities sit on distinct `city_corners` picked by
    CITY_LAYOUT_SEED, so the workload's shape (and its skew) is the same for
    every seed; the seed draws the pages."""
    rng = np.random.default_rng(seed)
    lon = rng.uniform(-180.0, 180.0, n)
    lat = rng.uniform(-MAX_LAT, MAX_LAT, n)
    if hotspot:
        corners = city_corners()
        layout = np.random.default_rng(CITY_LAYOUT_SEED)
        pick = corners[layout.choice(len(corners), N_CITIES, replace=False)]
        w = 1.0 / np.arange(1, N_CITIES + 1)
        sizes = rng.multinomial(int(n * HOT_SHARE), w / w.sum())
        hot = rng.permutation(n)[:sizes.sum()]
        city = np.repeat(np.arange(N_CITIES), sizes)
        lon[hot] = pick[city, 0] + rng.normal(0.0, CITY_SIGMA_DEG, len(hot))
        lat[hot] = pick[city, 1] + rng.normal(0.0, CITY_SIGMA_DEG, len(hot))
    return lon, lat


def write_pages(spark, seed: int, hotspot: bool, path: str,
                n: int = N_JOIN_PAGES) -> None:
    """Page table (doc_id, url, lon, lat) sorted by fine cell, the layout
    `pipeline.prepare_pages` writes: range-partitioned and sorted within
    partitions on `spatial_join.point_cell_col` at `pipeline.LAYOUT_ZOOM`."""
    from pyspark.sql import functions as F

    from gdal_spark import datagen, pipeline
    from gdal_spark.operators import spatial_join

    lon, lat = page_coords(seed, n, hotspot)
    raw = path + ".raw.parquet"
    pq.write_table(pa.table({"doc_id": np.arange(n, dtype=np.int64),
                             "lon": lon, "lat": lat}), raw)
    df = spark.read.parquet(raw).select(
        "doc_id", datagen.url_col().alias("url"), "lon", "lat")
    key = spatial_join.point_cell_col(F.col("lon"), F.col("lat"),
                                      pipeline.LAYOUT_ZOOM)
    (df.withColumn("cell", key)
       .repartitionByRange(PAGE_PARTITIONS, "cell")
       .sortWithinPartitions("cell").drop("cell")
       .write.mode("overwrite").parquet(path))
    os.remove(raw)


QUERY_TABLES = ("documents", "embeddings", "lineitem")
# the repository's sf0.1 test tables the headline queries read, copied
# byte for byte (README.md, "Inputs")
SF_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data",
                      "sf0.1")


def n_docs(sf_dir: str = SF_DIR) -> int:
    return pq.read_metadata(os.path.join(sf_dir, "documents.parquet")).num_rows
