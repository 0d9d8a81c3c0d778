"""The conversion pipeline as a lazy Spark plan.

Re-expresses the reference's fixed 9-stage eager dataflow
(reference R/finbif_geo_convert.R:24-53, stage order per SURVEY.md §3.1:
scan -> rename/drop -> points|footprint -> project -> buffer -> bbox ->
layered write) as DataFrame transformations:

- extraction and tiling stay JVM-side (regexp + floor arithmetic,
  whole-stage codegen);
- geometry kernels run in Arrow-batched pandas UDFs (numpy inside);
- stages are built conditionally (geo/crs), so no no-op UDF barriers
  appear in the plan — the Catalyst twin of the reference's
  conditional stage skipping (R/finbif_geo_convert.R:137,244,305,328).

geo modes and CRS per the reference API: geo in {point, bbox,
footprint}, crs in {wgs84, euref} (R/finbif_geo_convert.R:24-29).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from fgcspark.cells import grid
from fgcspark.crs import tm35fin as tm
from fgcspark.extract import with_extracted
from fgcspark.geom import kernels as K
from fgcspark.geom.wkt import (
    GEOMETRYCOLLECTION,
    MULTIPOINT,
    POINT,
    Geom,
    parse_wkt,
    to_wkt,
)

GEO_MODES = ("point", "bbox", "footprint")
CRS_MODES = ("wgs84", "euref")


# ---------------------------------------------------------------------------
# vectorized UDF kernels
# ---------------------------------------------------------------------------


_PointEN = T.StructType(
    [
        T.StructField("plon", T.DoubleType()),
        T.StructField("plat", T.DoubleType()),
        T.StructField("e", T.DoubleType()),
        T.StructField("n", T.DoubleType()),
    ]
)


@pandas_udf(_PointEN)
def _point_en(lon: pd.Series, lat: pd.Series, fp: pd.Series) -> pd.DataFrame:
    """Fused G2+G3+G10: point lon/lat (coords, else footprint centroid)
    AND its EPSG:3067 projection in ONE Arrow pass. One UDF level
    instead of two halves the Python-worker count and Arrow IPC per
    row — chained pandas UDFs each get their own PythonRunner. It is
    the engine's one point projection: the spatial core, geo_transform's
    point mode, the streaming ingest and the kNN/dwithin probes all run
    it."""
    lon_v = lon.to_numpy(dtype=np.float64, na_value=np.nan).copy()
    lat_v = lat.to_numpy(dtype=np.float64, na_value=np.nan).copy()
    need = np.isnan(lon_v) | np.isnan(lat_v)
    for i in np.nonzero(need)[0]:
        s = fp.iloc[i]
        if s is None:
            continue
        try:
            c = K.centroid(parse_wkt(s))
        except Exception:
            c = None
        if c is not None:
            # per-axis coalesce: a present coordinate is never
            # overwritten by the centroid
            if np.isnan(lon_v[i]):
                lon_v[i] = c[0]
            if np.isnan(lat_v[i]):
                lat_v[i] = c[1]
    e, n = tm.geodetic_to_tm35(lon_v, lat_v)
    return pd.DataFrame({"plon": lon_v, "plat": lat_v, "e": e, "n": n})


# Marked nondeterministic on purpose (it is in fact deterministic):
# it stops Catalyst pushing join-key null filters below the projection,
# which would DUPLICATE the ArrowEvalPython node — observed 4 UDF nodes
# instead of 2 and a ~7x slowdown of the PIP candidate join at sf0.1.
# The trade (no filter pushdown through the UDF stage) is cheap: every
# plan filters AFTER geometry materialization anyway.
point_en = _point_en.asNondeterministic()


def _footprint_batch(
    fp: pd.Series, lon: pd.Series, lat: pd.Series, substitute: bool, geo: str, crs: str
) -> pd.Series:
    """Footprint-stage kernel over one Arrow batch. Implements
    G1 (NA -> POLYGON EMPTY), G4 (MULTIPOINT substitution; the >1-row
    guard is applied table-wide by the caller via `substitute`),
    G5 (GC homogenization in EPSG:3067, geo=footprint only),
    G8 (cast to MULTI), G10 (crs=euref output transform, one
    transform_batch call over the whole batch)."""
    lon_v = lon.to_numpy()
    lat_v = lat.to_numpy()
    out = []
    for i, s in enumerate(fp):
        g = parse_wkt(s) if s is not None else Geom("POLYGON", [])  # G1 default
        # G4: empty or POINT footprint + valid coords -> MULTIPOINT((lon lat))
        if (
            substitute
            and (g.is_empty or g.gtype == POINT)
            and not (np.isnan(lon_v[i]) or np.isnan(lat_v[i]))
        ):
            g = Geom(MULTIPOINT, np.array([[lon_v[i], lat_v[i]]]))
        # G5: homogenize GCs (footprint mode), in the metric frame
        if geo == "footprint" and g.gtype == GEOMETRYCOLLECTION and not g.is_empty:
            g = K.transform_coords(g, tm.geodetic_to_tm35)
            g = K.uncollect(g, digits=0)
            g = K.transform_coords(g, tm.tm35_to_geodetic)
        # G8: output is always MULTI*
        out.append(K.cast_to_multi(g))
    if crs == "euref":
        out = K.transform_batch(out, tm.geodetic_to_tm35)
    return pd.Series([to_wkt(g) for g in out])


def _bbox_batch(fp_wkt: pd.Series, crs: str) -> pd.Series:
    """G11 + G12 over one batch: diamond-buffer bare POINTs (0.5 m,
    quadsegs=1, via 3067 round-trip when crs=wgs84 — reference
    R/finbif_geo_convert.R:340-370), then 5-point bbox polygon
    (R/finbif_geo_convert.R:303-322). Input WKT is in the output frame
    already (project runs before buffer/bbox, SURVEY §3.1)."""
    out = []
    for s in fp_wkt:
        g = parse_wkt(s)
        if g.gtype == POINT and not g.is_empty:
            x, y = float(g.coords[0]), float(g.coords[1])
            if crs == "euref":
                g = Geom("POLYGON", K.point_diamond(x, y, 0.5))
            else:
                e, n = tm.geodetic_to_tm35(x, y)
                g = Geom("POLYGON", K.point_diamond(float(e), float(n), 0.5))
                g = K.transform_coords(g, tm.tm35_to_geodetic)
        out.append(to_wkt(K.bbox_polygon(g)))
    return pd.Series(out)


# ---------------------------------------------------------------------------
# plan builders
# ---------------------------------------------------------------------------


def load_pages(spark, data_dir: str) -> DataFrame:
    return spark.read.parquet(f"{data_dir}/pages.parquet")


def with_points(df: DataFrame) -> DataFrame:
    """G2/G3 + G10: point lon/lat per row (`plon`/`plat`: coords when
    present, else the footprint centroid, reference
    R/finbif_geo_convert.R:129-238) and its EPSG:3067 projection
    (`e`/`n`), all from one point_en evaluation."""
    # null the footprint for rows with coords: ~97 % of the Arrow batch
    # bytes shipped to Python are footprint WKT the kernel won't read
    need_fp = F.col("lon").isNull() | F.col("lat").isNull()
    p = point_en(F.col("lon"), F.col("lat"), F.when(need_fp, F.col("footprint")))
    return (
        df.withColumn("_p", p)
        .withColumn("plon", F.col("_p.plon"))
        .withColumn("plat", F.col("_p.plat"))
        .withColumn("e", F.col("_p.e"))
        .withColumn("n", F.col("_p.n"))
        .drop("_p")
    )


def with_tiles(df: DataFrame, sizes=grid.SIZES_KM) -> DataFrame:
    for s in sizes:
        df = df.withColumn(f"cell_{s}km", grid.cell_id(F.col("e"), F.col("n"), s))
    return df


def pages_to_points(spark, data_dir: str) -> DataFrame:
    """scan -> extract -> point+project (one fused UDF) -> tiles. The
    engine's workhorse prefix: every spatial query builds on this plan."""
    return with_tiles(with_points(with_extracted(load_pages(spark, data_dir))))


def count_substitution_rows(df: DataFrame) -> int:
    """The G4 `>1` guard is a table-wide predicate in the reference
    (length(...) > 1L, R/finbif_geo_convert.R:268). Replicated as one
    cheap aggregate over the extracted columns (bug-for-bug fidelity,
    flagged per SURVEY §2.6 G4)."""
    mask = (
        (F.col("footprint").isNull())
        | F.col("footprint").startswith("POINT")
        | F.col("footprint").contains("EMPTY")
    ) & F.col("lon").isNotNull() & F.col("lat").isNotNull()
    return df.filter(mask).limit(2).count()


def geo_pipeline(spark, data_dir: str, geo: str = "point", crs: str = "wgs84") -> DataFrame:
    """Full reference pipeline for one (geo, crs) combo over the pages
    table; returns the page table + `geo_wkt` + `geom_type` (layer key
    for partitioned writes, reference R/finbif_geo_convert.R:586-630)."""
    return geo_transform(with_extracted(load_pages(spark, data_dir)), geo, crs)


def geo_transform(df: DataFrame, geo: str = "point", crs: str = "wgs84") -> DataFrame:
    """The geometry stage alone: any DataFrame carrying `lon`/`lat`
    (double) + `footprint` (WKT string) columns -> + `geo_wkt`,
    `geom_type`. Used by geo_pipeline (web pages) AND by the citable-
    archive path (occurrence rows, the reference's native input)."""
    assert geo in GEO_MODES and crs in CRS_MODES
    if geo == "point":
        df = with_points(df)
        if crs == "euref":
            x, y = F.col("e"), F.col("n")
        else:
            x, y = F.col("plon"), F.col("plat")
        wkt = F.when(
            F.col("plon").isNotNull(),
            F.concat(
                F.lit("POINT ("),
                F.format_string("%.7f %.7f", x, y),
                F.lit(")"),
            ),
        ).otherwise(F.lit("POINT EMPTY"))
        df = df.withColumn("geo_wkt", wkt)
        if crs == "wgs84":
            df = df.drop("e", "n")
    else:
        substitute = count_substitution_rows(df) > 1
        geo_b, crs_b = geo, crs

        # footprint + (optional) bbox fused into ONE Arrow stage: the
        # same composition, but chained pandas UDFs each get their own
        # PythonRunner + an extra WKT serialize/parse round-trip
        @pandas_udf(T.StringType())
        def fp_udf(fp: pd.Series, lon: pd.Series, lat: pd.Series) -> pd.Series:
            w = _footprint_batch(fp, lon, lat, substitute, geo_b, crs_b)
            return _bbox_batch(w, crs_b) if geo_b == "bbox" else w

        df = df.withColumn("geo_wkt", fp_udf(F.col("footprint"), F.col("lon"), F.col("lat")))
    gtype = F.regexp_extract(F.col("geo_wkt"), "^([A-Z]+)", 1)
    df = df.withColumn("geom_type", gtype)
    # reference drops the consumed spatial input columns (:210,232,291)
    return df.drop("lat", "lon", "lat_s", "lon_s", "footprint")


def convert_citable(
    spark,
    zip_path: str,
    geo: str = "point",
    crs: str = "wgs84",
    dwc: bool = True,
) -> tuple[DataFrame, str | None]:
    """The reference's ACTUAL end-to-end conversion on its native
    input: citable zip -> load (facts, deselect, DwC) -> spatial-
    column resolve (get_spatial_input_nms, R/finbif_geo_convert.R:
    109-126) -> point/bbox/footprint geometry + layer type. Returns
    (converted rows, readme text for S7 packaging)."""
    from fgcspark.io.archive import read_citable_zip

    rows, readme = read_citable_zip(spark, zip_path, dwc=dwc)
    lat_nm = "decimalLatitude" if dwc else "lat_wgs84"
    lon_nm = "decimalLongitude" if dwc else "lon_wgs84"
    fp_nm = "footprintWKT" if dwc else "footprint_wgs84"
    df = (
        rows.withColumn("lat", F.col(lat_nm).cast("double"))
        .withColumn("lon", F.col(lon_nm).cast("double"))
        .withColumn("footprint", F.col(fp_nm))
        .drop(lat_nm, lon_nm, fp_nm)
    )
    return geo_transform(df, geo, crs), readme


def convert_occurrences(
    spark,
    input_: str,
    geo: str = "point",
    crs: str = "wgs84",
    dwc: bool = True,
    cache_dir: str | None = None,
) -> tuple[DataFrame, str | None, str]:
    """The reference's FULL input surface (finbif_geo_convert's first
    argument, R/finbif_geo_convert.R:80-94 + R/sanitise_id.R): a
    citable zip path, a lite-download TSV path, or a dataset id
    (645 / HBF.645 / https://tun.fi/HBF.645) resolved against a local
    download cache. Returns (converted rows, readme, dataset name).

    Lite rows carry no centre-point coordinates; they flow through the
    footprint-centroid fallback (G3) exactly like the reference routes
    them (module doc in io/archive.py)."""
    from fgcspark.io.archive import read_lite_tsv, resolve_input

    path, name = resolve_input(input_, cache_dir)
    if path.endswith(".tsv"):
        rows = read_lite_tsv(spark, path, dwc=dwc)
        fp_nm = "footprintWKT" if dwc else "footprint_wgs84"
        df = (
            rows.withColumn("lat", F.lit(None).cast("double"))
            .withColumn("lon", F.lit(None).cast("double"))
            .withColumn("footprint", F.col(fp_nm))
            .drop(fp_nm)
        )
        return geo_transform(df, geo, crs), None, name
    df, readme = convert_citable(spark, path, geo=geo, crs=crs, dwc=dwc)
    return df, readme, name


def write_layered(df: DataFrame, out_path: str) -> None:
    """S4 sink: one partition dir per geometry type (the Spark twin of
    layer-per-type GeoPackage, reference R/finbif_geo_convert.R:586-630)."""
    df.write.mode("overwrite").partitionBy("geom_type").parquet(out_path)


def tile_counts(spark, data_dir: str, size_km: int = 10) -> DataFrame:
    """Flagship aggregation: docs per tile cell (map-side partial agg,
    single shuffle on the cell key)."""
    pts = pages_to_points(spark, data_dir)
    return (
        pts.groupBy(F.col(f"cell_{size_km}km").alias("cell"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
    )
