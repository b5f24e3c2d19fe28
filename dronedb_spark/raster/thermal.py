"""Thermal raw→temperature calibration (SURVEY §2.7 raster value;
reference raster_analysis.cpp:108-110,220-228 and thermal.cpp).

Radiometric thermal sensors store raw UInt16 counts; temperature comes
from the inverse Planck radiance model (public physics / the constants
every FLIR-style camera writes into EXIF):

    T_kelvin = B / ln(R1 / (R2 · (raw + O)) + F)

with per-camera calibration constants R1, R2, B, O, F.  The reference
applies this before any CELSIUS/KELVIN formula or thermal stat; here the
calibration is a pure Column expression (whole-stage codegen, no UDF) —
``calibrate`` produces the ``T`` band (°C) that the formula registry
(functions/formulas.py CELSIUS/KELVIN) and the area-stats operators then
consume unchanged.

The raw fixture is shared-dialect SQL (integer arithmetic only), so the
DuckDB oracle evaluates the same pipeline value-for-value.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from dronedb_spark.suite import check

# public FLIR-typical Planck calibration constants (the EXIF tag set:
# PlanckR1, PlanckR2, PlanckB, PlanckO, PlanckF)
PLANCK_R1 = 21106.77
PLANCK_R2 = 0.012545258
PLANCK_B = 1501.0
PLANCK_O = -7340.0
PLANCK_F = 1.0

RAW_NODATA = 65535  # saturated counts carry no temperature

TH_W = 64


def raw_to_kelvin(
    raw: Column,
    r1: float = PLANCK_R1,
    r2: float = PLANCK_R2,
    b: float = PLANCK_B,
    o: float = PLANCK_O,
    f: float = PLANCK_F,
) -> Column:
    return b / F.log(r1 / (r2 * (raw.cast("double") + o)) + f)


def raw_to_celsius(raw: Column, **cal) -> Column:
    return raw_to_kelvin(raw, **cal) - 273.15


def calibrate(pixels: DataFrame, raw_col: str = "raw") -> DataFrame:
    """raw counts → the ``T`` (°C) band, NULL where saturated — the stage
    the reference runs before thermal stats/formulas
    (raster_analysis.cpp:220-228)."""
    t = F.when(F.col(raw_col) == RAW_NODATA, F.lit(None).cast("double")).otherwise(
        raw_to_celsius(F.col(raw_col))
    )
    return pixels.withColumn("T", t)


def raw_sql(dialect: str) -> str:
    """Synthetic UInt16 thermal raw grid, integer arithmetic only (exact
    in both engines); every 53rd pixel saturated."""
    ids = f"range(0, {TH_W * TH_W})" if dialect == "spark" else (
        f"(SELECT range AS id FROM range({TH_W * TH_W}))"
    )
    return f"""
    SELECT row, col,
           CAST(CASE WHEN ((row * {TH_W} + col) % 53) = 0 THEN {RAW_NODATA}
                ELSE 20000 + (row * 131 + col * 17) % 8000 END AS BIGINT) AS raw
    FROM (SELECT CAST((id - (id % {TH_W})) / {TH_W} AS INT) AS row,
                 CAST(id % {TH_W} AS INT) AS col
          FROM {ids}) g
    """


def thermal_raw_df(spark: SparkSession) -> DataFrame:
    return spark.sql(raw_sql("spark"))


# ---------------------------------------------------------------- checks

# R1 point query shape: a handful of (row, col) probes incl. a saturated
# pixel.  Temperatures are ROUND(.,4): °C values sit ~1e-13 apart between
# engines' ln at worst, 9 orders below the grid — boundary-safe.  The
# output column is ``temp_c`` (not "celsius") so the NULLABLE column sorts
# AFTER the unique non-null keys in the driver's column-sorted row
# comparison — a leading nullable column makes the row sort compare None
# against floats.
_POINTS = [(0, 0), (3, 5), (10, 60), (32, 32), (63, 63)]


@check(
    "thermal_point_query",
    small=True,
    oracle=f"""
        WITH raw AS ({raw_sql('duckdb')})
        SELECT row, col, raw,
               CASE WHEN raw = {RAW_NODATA} THEN NULL
                    ELSE ROUND({PLANCK_B} / ln({PLANCK_R1} / ({PLANCK_R2}
                         * (CAST(raw AS DOUBLE) + {PLANCK_O})) + {PLANCK_F})
                         - 273.15, 4) END AS temp_c
        FROM raw
        WHERE {" OR ".join(f"(row = {r} AND col = {c})" for r, c in _POINTS)}
        ORDER BY row, col""",
)
def q_thermal_point(spark: SparkSession, sf_dir: str) -> DataFrame:
    px = calibrate(thermal_raw_df(spark))
    cond = None
    for r, c in _POINTS:
        this = (F.col("row") == r) & (F.col("col") == c)
        cond = this if cond is None else (cond | this)
    return (
        px.filter(cond)
        .select("row", "col", "raw", F.round("T", 4).alias("temp_c"))
        .orderBy("row", "col")
    )
