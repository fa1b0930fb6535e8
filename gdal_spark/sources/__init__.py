"""Vector source/sink formats beyond parquet.

The reference's driver registry (ogr/ogrsf_frmts/generic/
ogrsfdriverregistrar.cpp) autodetects 200+ formats; the engine's canonical
storage is parquet/WKB, and this package supplies the interchange formats a
Spark pipeline actually ingests: GeoJSON (RFC 7946 FeatureCollection and
newline-delimited GeoJSONSeq — the scale-friendly flavor) and CSV with a
WKT geometry column. Everything parses inside Arrow batches (per line for
the ND formats -> fully distributed; whole-file for FeatureCollection ->
one task per file, the same granularity OGR's driver gets).
"""

from ..core import vsi
from .csv_wkt import read_csv_wkt, write_csv_wkt      # noqa: F401
from .geojson import (read_geojson, read_geojson_seq,  # noqa: F401
                      write_geojson_seq)


def _vsizip(path: str) -> str:
    """/vsizip/ twin (port/cpl_vsil_gzip.cpp VSIZipFilesystemHandler):
    '/vsizip/archive.zip/member' or 'archive.zip!member' (or a bare .zip
    with one recognizable member) extracts the member — plus its sidecars
    (.shx/.dbf for .shp) — to a fresh directory under the process scratch
    root (core.vsi.scratch, removed at exit) and returns the extracted
    path. Extraction is driver-side; the distributed read then runs on
    the extracted file."""
    import os
    import zipfile

    from ..core import vsi

    if path.startswith("/vsizip/"):
        rest = path[len("/vsizip/"):]
        if ".zip/" in rest:
            zpath, member = rest.split(".zip/", 1)
            zpath += ".zip"
        else:
            zpath, member = rest, None
    elif "!" in path and ".zip" in path.lower():
        zpath, member = path.split("!", 1)
    else:
        zpath, member = path, None
    zf = zipfile.ZipFile(zpath)
    names = zf.namelist()
    if member is None:
        pref = (".shp", ".fgb", ".gpkg", ".parquet", ".geojsonl",
                ".geojson", ".kml", ".gml", ".gpx", ".csv", ".json")
        cand = [n for n in names if "." in n and not n.endswith("/")]
        ranked = sorted(
            cand, key=lambda n: next(
                (i for i, e in enumerate(pref)
                 if n.lower().endswith(e)), len(pref)))
        member = ranked[0]
    base = vsi.scratch()
    os.makedirs(base)
    want = {member}
    stem, ext = os.path.splitext(member)
    if ext.lower() == ".shp":
        want |= {n for n in names
                 if n.lower() in (stem.lower() + ".shx",
                                  stem.lower() + ".dbf")}
    for n in want:
        dst = os.path.join(base, os.path.basename(n))
        with zf.open(n) as src, open(dst, "wb") as out:
            out.write(src.read())
    return os.path.join(base, os.path.basename(member))


def open_vector(spark, path: str, **kwargs):
    """The reference's front door — GDALDataset Open with driver
    autodetection (ogr/ogrsf_frmts/generic/ogrsfdriverregistrar.cpp,
    gcore/gdaldataset.cpp GDALOpenEx) — by extension: every registered
    vector format routes to its distributed reader and comes back as a
    (fid, geom WKB, ...) DataFrame. /vsizip/ and 'x.zip!member' paths
    unpack first."""
    if path.startswith("/vsizip/") or (
            "!" in path and ".zip" in path.lower()) or \
            path.lower().endswith(".zip"):
        path = _vsizip(path)
    low = path.lower()
    if low.endswith(".parquet"):
        return spark.read.parquet(path)
    if low.endswith(".warc"):
        from .warc import read_warc
        return read_warc(spark, path, **kwargs)
    if low.endswith((".geojsonl", ".geojsons", ".ndjson")):
        return read_geojson_seq(spark, path)
    if low.endswith((".geojson", ".json")):
        return read_geojson(spark, path)
    if low.endswith(".csv"):
        return read_csv_wkt(spark, path, **kwargs)
    if low.endswith(".shp"):
        from .shapefile import read_shapefile
        return read_shapefile(spark, path[:-4], **kwargs)
    if low.endswith(".fgb"):
        from .flatgeobuf import read_fgb
        return read_fgb(spark, path, **kwargs)
    if low.endswith(".gpkg"):
        from .gpkg import read_gpkg
        return read_gpkg(spark, path, **kwargs)
    if low.endswith(".kml"):
        from .kml import read_kml
        return read_kml(spark, path)
    if low.endswith(".gml"):
        from .gml import read_gml
        return read_gml(spark, path)
    if low.endswith(".gpx"):
        from .gpx import read_gpx
        return read_gpx(spark, path)
    if low.endswith(".dxf"):
        from .dxf import read_dxf
        return read_dxf(spark, path)
    if low.endswith((".sqlite", ".db")):
        from .spatialite import read_spatialite
        return read_spatialite(spark, path, **kwargs)
    if low.endswith(".mif"):
        from .mif import read_mif
        return read_mif(spark, path, **kwargs)
    if low.endswith(".jsonfg"):
        from .jsonfg import read_jsonfg
        return read_jsonfg(spark, path)
    if low.rstrip("/").endswith(".gdb") or low.endswith(".gdbtable"):
        from .openfilegdb import read_openfilegdb
        return read_openfilegdb(spark, path, **kwargs)
    if low.endswith(".000") or low.endswith(".s57"):
        from .s57 import read_s57
        return read_s57(spark, path)
    if low.endswith(".dgn"):
        from .dgn import read_dgn
        return read_dgn(spark, path)
    if low.endswith(".topojson"):
        from .topojson import read_topojson
        return read_topojson(spark, path)
    if low.endswith(".gmt"):
        from .gmt import read_gmt
        return read_gmt(spark, path)
    if low.endswith(".vrt"):
        from .ogrvrt import read_ogrvrt
        return read_ogrvrt(spark, path, **kwargs)
    if low.endswith(".xlsx"):
        from .xlsx import read_xlsx
        return read_xlsx(spark, path)
    if low.endswith(".ods"):
        from .xlsx import read_ods
        return read_ods(spark, path)
    if low.endswith((".rss", ".atom")):
        from .georss import read_georss
        return read_georss(spark, path)
    if low.endswith(".osm"):
        from .osm import osm_layers
        return osm_layers(spark, path)["points"]
    if low.endswith(".osm.pbf"):
        from .osm_pbf import osm_pbf_layers
        return osm_pbf_layers(spark, path)["points"]
    if low.endswith((".arrow", ".arrows", ".feather")):
        from .arrow_ipc import read_arrow_ipc
        return read_arrow_ipc(spark, path, **kwargs)[0]
    if low.endswith((".gpq", ".geoparquet")):
        from .geoparquet import read_geoparquet
        return read_geoparquet(spark, path, **kwargs)[0]
    import os
    if low.endswith((".mvt", ".pbf")) or \
            os.path.isfile(os.path.join(path, "metadata.json")):
        from .mvt import read_mvt
        return read_mvt(spark, path if not low.endswith((".mvt", ".pbf"))
                        else os.path.dirname(os.path.dirname(
                            os.path.dirname(path))), **kwargs)
    raise ValueError(f"no driver recognizes {path!r} "
                     "(parquet/geoparquet/geojson/geojsonl/csv/shp/fgb/"
                     "gpkg/arrow/mvt)")


def open_raster(spark, path: str, tile: int = 256, **kwargs):
    """Raster front door: GeoTIFF / VRT / Zarr -> the engine tile table."""
    low = path.lower()
    if low.endswith(".xml") or (isinstance(path, str)
                                and path.lstrip()[:9] == "<GDAL_WMS"):
        # WMS-client service description (frmts/wms) — sniff like the
        # reference's WMSDriverIdentify
        head = path if "<" in path else \
            vsi.pread(path, 0, 1024).decode("utf-8", "replace")
        if "<GDAL_WMS" in head:
            from .tileservice import read_tileservice
            return read_tileservice(spark, path, **kwargs)[0]
        if "/wmts/1.0" in head and "<Capabilities" in head:
            from .tileservice import read_wmts
            return read_wmts(spark, path, **kwargs)[0]
    if low.endswith((".tif", ".tiff")):
        from .geotiff import read_gtiff
        return read_gtiff(spark, path, tile=tile, **kwargs)
    if low.endswith(".vrt"):
        from ..raster.vrt import read_vrt
        return read_vrt(spark, path, tile=tile, **kwargs)
    if low.endswith(".zarr") or low.rstrip("/").endswith(".zarr"):
        from .zarr import read_zarr
        return read_zarr(spark, path, **kwargs)[0]
    if low.endswith((".jp2", ".j2k", ".jpc")):
        from .jp2 import read_jp2
        return read_jp2(spark, path, tile=tile, **kwargs)[0]
    if low.endswith(".png"):
        from .png import read_png
        return read_png(spark, path, tile=tile, **kwargs)
    if low.endswith((".jpg", ".jpeg")):
        from .jpeg import read_jpeg
        return read_jpeg(spark, path, tile=tile, **kwargs)[0]
    if low.endswith(".gif"):
        from .gif import read_gif
        return read_gif(spark, path, tile=tile, **kwargs)[0]
    if low.endswith(".lbl"):
        from .pds import read_pds
        return read_pds(spark, path, tile=tile, **kwargs)[0]
    if low.endswith(".vic"):
        from .vicar import read_vicar
        return read_vicar(spark, path, tile=tile, **kwargs)[0]
    if low.endswith(".cub"):
        from .isis3 import read_isis3
        return read_isis3(spark, path, **kwargs)[0]
    if low.endswith((".ntf", ".nitf")):
        from .nitf import read_nitf
        return read_nitf(spark, path, **kwargs)[0]
    if low.endswith((".asc", ".grd")):
        from .aaigrid import read_aaigrid
        return read_aaigrid(spark, path, tile=tile, **kwargs)
    if low.endswith(".xyz"):
        from .xyzraster import read_xyz
        return read_xyz(spark, path, tile=tile, **kwargs)[0]
    if low.endswith(".bmp"):
        from .bmp import read_bmp
        return read_bmp(spark, path, tile=tile, **kwargs)[0]
    if low.endswith(".mbtiles"):
        from .gpkg import read_mbtiles
        return read_mbtiles(spark, path, tile=tile, **kwargs)[0]
    if low.endswith((".pgm", ".ppm", ".pnm")):
        from .pnm import read_pnm
        return read_pnm(spark, path, tile=tile, **kwargs)[0]
    if low.endswith((".dt0", ".dt1", ".dt2")):
        from .dted import read_dted
        return read_dted(spark, path, tile=tile, **kwargs)[0]
    if low.endswith(".dem"):
        from .usgsdem import read_usgsdem
        return read_usgsdem(spark, path, tile=tile, **kwargs)
    if low.endswith((".lan", ".gis")):
        from .lan import read_lan
        return read_lan(spark, path, tile=tile, **kwargs)[0]
    if low.endswith(".kap"):
        from .bsb import read_bsb
        return read_bsb(spark, path, tile=tile, **kwargs)[0]
    if low.endswith(".map"):
        from .pcraster import SIG, read_pcraster
        if vsi.pread(path, 0, len(SIG)) == SIG:
            return read_pcraster(spark, path, tile=tile, **kwargs)[0]
    if low.endswith("catd.ddf"):
        from .sdts import read_sdts
        return read_sdts(spark, path, tile=tile, **kwargs)[0]
    if low.endswith((".grib2", ".grb2")):
        from .grib2 import read_grib2
        return read_grib2(spark, path, tile=tile, **kwargs)[0]
    if low.endswith((".grib", ".grb", ".grb1")):
        with vsi.open_seekable(path) as fh:        # mixed extensions: sniff edition
            ed = (fh.read(8) + b"\0" * 8)[7]
        if ed == 2:
            from .grib2 import read_grib2
            return read_grib2(spark, path, tile=tile, **kwargs)[0]
        from .grib import read_grib
        return read_grib(spark, path, tile=tile, **kwargs)[0]
    if low.endswith((".h5", ".hdf5")):
        from .hdf5 import read_hdf5
        return read_hdf5(spark, path, tile=tile, **kwargs)[0]
    if low.endswith(".nc"):
        with vsi.open_seekable(path) as fh:        # netCDF-4 files ARE HDF5
            magic = fh.read(8)
        if magic == b"\x89HDF\r\n\x1a\n":
            from .hdf5 import read_hdf5
            return read_hdf5(spark, path, tile=tile, **kwargs)[0]
        from .netcdf import read_netcdf
        return read_netcdf(spark, path, tile=tile, **kwargs)[0]
    if low.endswith(".img"):
        with vsi.open_seekable(path) as fh:        # Imagine vs ENVI .img: magic
            magic = fh.read(15)
        if magic == b"EHFA_HEADER_TAG":
            from .hfa import read_hfa
            return read_hfa(spark, path, **kwargs)[0]
    if low.endswith((".dat", ".img", ".bsq", ".bip")) or (
            low.endswith(".hdr") and _is_envi_hdr(path)):
        from .rawraster import read_envi
        return read_envi(spark, path, tile=tile, **kwargs)[0]
    if low.endswith((".bil", ".flt")) or low.endswith(".hdr"):
        from .rawraster import read_ehdr
        return read_ehdr(spark, path, tile=tile, **kwargs)[0]
    if low.endswith(".hgt"):
        from .demraw import read_srtmhgt
        return read_srtmhgt(spark, path, tile=tile, **kwargs)[0]
    if low.endswith(".bt"):
        from .demraw import read_bt
        return read_bt(spark, path, tile=tile, **kwargs)[0]
    if low.endswith(".ers"):
        from .demraw import read_ers
        return read_ers(spark, path, tile=tile, **kwargs)[0]
    if low.endswith((".rst", ".rdc")):
        from .demraw import read_idrisi
        return read_idrisi(spark, path, tile=tile, **kwargs)[0]
    if low.endswith((".sgrd", ".sdat")):
        from .demraw import read_saga
        return read_saga(spark, path, tile=tile, **kwargs)[0]
    raise ValueError(f"no raster driver recognizes {path!r}")


def _is_envi_hdr(path: str) -> bool:
    with vsi.open_seekable(path) as f:
        return f.read(4) == b"ENVI"


def save_vector(df, path: str, geom_col: str = "geom", **kwargs):
    """The write-side of Open(): route a (.., geom WKB, ..) DataFrame to
    the sink the extension names (the reference's GetDriverByName +
    CreateLayer + CreateFeature loop as one call). Parquet/GeoParquet/
    GeoJSONSeq/CSV/KML/GML/Arrow sinks are distributed (one part per
    partition); SHP and FGB route unconditionally through the two-phase
    preallocated-pwrite DISTRIBUTED writers (no driver collect of
    features); GPKG remains a bounded-extract collect (sqlite is
    single-writer by design)."""
    low = path.lower()
    if low.endswith(".parquet"):
        return df.write.mode("overwrite").parquet(path)
    if low.endswith((".geojsonl", ".geojsons", ".ndjson")):
        from .geojson import write_geojson_seq
        return write_geojson_seq(df, path, geom_col=geom_col, **kwargs)
    if low.endswith(".csv"):
        from .csv_wkt import write_csv_wkt
        return write_csv_wkt(df, path, geom_col=geom_col, **kwargs)
    if low.endswith(".kml"):
        from .kml import write_kml
        return write_kml(df, path, geom_col=geom_col,
                         name_col=None, props_col=None, **kwargs)
    if low.endswith(".gml"):
        from .gml import write_gml
        return write_gml(df, path, geom_col=geom_col, props_col=None,
                         **kwargs)
    if low.endswith(".gpx"):
        from .gpx import write_gpx
        return write_gpx(df, path, geom_col=geom_col,
                         name_col=None, ele_col=None, **kwargs)
    if low.endswith(".dxf"):
        from .dxf import write_dxf
        return write_dxf(df, path, geom_col=geom_col, layer_col=None,
                         **kwargs)
    if low.endswith((".gpq", ".geoparquet")):
        from .geoparquet import write_geoparquet
        return write_geoparquet(df, path, geom_col=geom_col, **kwargs)
    if low.endswith((".arrow", ".arrows")):
        from .arrow_ipc import write_arrow_ipc
        return write_arrow_ipc(df, path, geom_col=geom_col,
                               stream=low.endswith(".arrows"), **kwargs)
    if low.endswith(".shp"):
        from .shapefile import write_shapefile_df
        return write_shapefile_df(df, path[:-4], geom_col=geom_col)
    if low.endswith(".fgb"):
        from .flatgeobuf import write_fgb_dist
        return write_fgb_dist(df, path, geom_col=geom_col, **kwargs)
    if low.endswith(".gpkg"):
        # sqlite is single-writer; bounded extracts only
        attrs = [c for c in df.columns if c != geom_col]
        rows = [(bytes(r[geom_col]) if r[geom_col] is not None else None,
                 {a: r[a] for a in attrs}) for r in df.collect()]
        from .gpkg import write_gpkg
        return write_gpkg(rows, path, **kwargs)
    raise ValueError(f"no sink recognizes {path!r}")


def save_raster(tiles, path: str, tile: int = 256, **kwargs):
    """Write-side raster dispatch (GetDriverByName + CreateCopy as one
    call): route an engine tile table to the sink the extension names.
    Width/height default to the full tile extent (readers pad edge
    tiles the same way, so dispatch round trips); pass width/height in
    kwargs for exact dims. GeoTIFF/PNG/AAIGrid/ENVI/EHdr/BMP/PNM/DTED/
    XYZ/Zarr/GPKG-tiles/MBTiles sinks all write their pixel payload
    from executors."""
    from pyspark.sql import functions as F

    low = path.lower()
    if "width" in kwargs and "height" in kwargs:
        w, h = kwargs.pop("width"), kwargs.pop("height")
    else:
        ext = tiles.agg(F.max("tile_x").alias("mx"),
                        F.max("tile_y").alias("my")).collect()[0]
        w = (int(ext.mx) + 1) * tile
        h = (int(ext.my) + 1) * tile
    want_cog = kwargs.pop("cog", False)
    if want_cog or low.endswith((".cog.tif", ".cog.tiff")):
        from .geotiff import write_cog
        return write_cog(tiles, path, width=w, height=h, tile=tile,
                         **kwargs)
    if low.endswith((".tif", ".tiff")):
        from .geotiff import write_gtiff_tiles
        return write_gtiff_tiles(tiles, path, width=w, height=h,
                                 tile=tile, **kwargs)
    if low.endswith(".png"):
        from .png import write_png
        return write_png(tiles, path, width_px=w, height_px=h, tile=tile,
                         **kwargs)
    if low.endswith((".jpg", ".jpeg")):
        from .jpeg import write_jpeg
        return write_jpeg(tiles, path, width_px=w, height_px=h,
                          tile=tile, **kwargs)
    if low.endswith(".gif"):
        from .gif import write_gif
        return write_gif(tiles, path, width=w, height=h, tile=tile,
                         **kwargs)
    if low.endswith((".asc", ".grd")):
        from .aaigrid import write_aaigrid
        return write_aaigrid(tiles, path, width_px=w, height_px=h,
                             tile=tile, **kwargs)
    if low.endswith(".xyz"):
        from .xyzraster import write_xyz
        return write_xyz(tiles, path, tile=tile, **kwargs)
    if low.endswith(".bmp"):
        from .bmp import write_bmp
        return write_bmp(tiles, path, width=w, height=h, tile=tile,
                         **kwargs)
    if low.endswith((".dat", ".img", ".bsq")):
        from .rawraster import write_envi
        return write_envi(tiles, path, samples=w, lines=h, tile=tile,
                          **kwargs)
    if low.endswith((".bil", ".flt")):
        from .rawraster import write_ehdr
        return write_ehdr(tiles, path, samples=w, lines=h, tile=tile,
                          **kwargs)
    if low.endswith((".pgm", ".ppm", ".pnm")):
        from .pnm import write_pnm
        return write_pnm(tiles, path, width=w, height=h, tile=tile,
                         **kwargs)
    if low.endswith((".dt0", ".dt1", ".dt2")):
        from .dted import write_dted
        return write_dted(tiles, path, ncols=w, nrows=h, tile=tile,
                          **kwargs)
    if low.endswith(".dem"):
        from .usgsdem import write_usgsdem
        return write_usgsdem(tiles, path, width_px=w, height_px=h,
                             tile=tile, **kwargs)
    if low.endswith((".lan", ".gis")):
        from .lan import write_lan
        return write_lan(tiles, path, width_px=w, height_px=h,
                         tile=tile, **kwargs)
    if low.endswith(".kap"):
        from .bsb import write_bsb
        return write_bsb(tiles, path, width_px=w, height_px=h,
                         tile=tile, **kwargs)
    if low.endswith((".h5", ".hdf5")):
        from .hdf5 import write_hdf5
        return write_hdf5(tiles, path, width_px=w, height_px=h,
                          tile=tile, **kwargs)
    if low.endswith(".zarr") or low.rstrip("/").endswith(".zarr"):
        from .zarr import write_zarr
        return write_zarr(tiles, path, width=w, height=h, tile=tile,
                          **kwargs)
    if low.endswith(".gpkg"):
        from .gpkg import write_gpkg_tiles
        return write_gpkg_tiles(tiles, path, tile=tile, **kwargs)
    if low.endswith(".mbtiles"):
        from .gpkg import write_mbtiles
        return write_mbtiles(tiles, path, tile=tile, **kwargs)
    raise ValueError(f"no raster sink recognizes {path!r}")
