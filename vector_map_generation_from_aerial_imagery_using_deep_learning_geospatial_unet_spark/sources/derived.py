"""Deterministic geo-table derivations from the driver's parquet tables.

The driver's DuckDB oracle can only see the pre-registered views
(part, customer, events), so every SQL-checkable geo query derives its
``images`` / ``footprints`` / ``points`` inputs with *pure integer/decimal
arithmetic* from those tables.  Each DataFrame function reads only its
table's key column, with a declared schema, so no read runs a
schema-inference job.  Each derivation exists twice — as a Spark
DataFrame function (one ``selectExpr`` of Spark SQL text, parsed in one JVM
call; fractional constants carry the ``D`` suffix, since a bare ``0.25`` is
a DECIMAL in Spark SQL) and as a DuckDB SQL CTE string, written
separately so the oracle stays an independent check.  The two are kept
adjacent in this module so drift is visible; tests assert they agree.

Fractional offsets (.125 / .25 / .375 — exact binary fractions) are added so
no point ever lies exactly on a polygon edge: the engine's ray-casting PIP and
the oracle's rotated-rect algebra then agree without boundary-tie hazards.

Geometry mirrors the reference's data model: 0.1 m cells
(/root/reference/config.py:13), north-up affine geotransform with negative
scaleY (/root/reference/src/bf_gridding.py:43-71), image footprints as in
``getTileIndexFromFiles`` (/root/reference/src/bf_gridding.py:304-332).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..functions.cellindex import sql_double

# world is a 10500 m x 10500 m window; images sit on a 210 m grid
WORLD = 10500
GRID = 210.0
SX = 0.1   # m / pixel, reference config.py:13
SY = -0.1  # north-up, scaleY forced negative (bf_gridding.py:52-53)


# --------------------------------------------------------------------------- #
# images(image_id, w, h, ulx, uly)  — from `part`
# --------------------------------------------------------------------------- #

def images_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image catalog: sizes hit tile-count edge cases (w=200 exactly-one-tile
    up to 2000 px); origins tile a 50x50 grid of 210 m cells so spatial joins
    have realistic density and wrap-around stacking creates skew cells."""
    p = spark.read.schema("p_partkey BIGINT").parquet(f"{sf_dir}/part.parquet")
    return p.selectExpr(
        "concat('img_', lpad(CAST(p_partkey AS STRING), 8, '0')) AS image_id",
        "CAST(200 + (p_partkey * 37) % 1801 AS INT) AS w",
        "CAST(200 + (p_partkey * 53) % 1801 AS INT) AS h",
        f"(p_partkey % 50) * {sql_double(GRID)} AS ulx",
        f"(floor(p_partkey / 50) % 50) * {sql_double(GRID)} + 200.0D AS uly",
    )


IMAGES_META_SQL = """
images_meta AS (
  SELECT
    concat('img_', lpad(CAST(p_partkey AS VARCHAR), 8, '0')) AS image_id,
    CAST(200 + (p_partkey * 37) % 1801 AS INT)               AS w,
    CAST(200 + (p_partkey * 53) % 1801 AS INT)               AS h,
    (p_partkey % 50) * 210e0                                 AS ulx,
    (CAST(FLOOR(p_partkey / 50) AS BIGINT) % 50) * 210e0 + 200e0 AS uly
  FROM part
)"""


# --------------------------------------------------------------------------- #
# footprints(fp_id, cx, cy, a, b, theta_deg)  — from `customer`
# rotated rectangles: center, half-extents, angle in 15deg steps
# --------------------------------------------------------------------------- #

def footprints_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = spark.read.schema("c_custkey BIGINT").parquet(f"{sf_dir}/customer.parquet")
    return c.selectExpr(
        "concat('fp_', lpad(CAST(c_custkey AS STRING), 8, '0')) AS fp_id",
        f"(c_custkey * 97) % {WORLD} + 0.125D AS cx",
        f"(c_custkey * 89) % {WORLD} + 0.125D AS cy",
        "(c_custkey % 40) + 5.375D AS a",
        "(c_custkey % 30) + 5.375D AS b",
        "(c_custkey % 12) * 15.0D AS theta_deg",
    )


FOOTPRINTS_META_SQL = """
footprints_meta AS (
  SELECT
    concat('fp_', lpad(CAST(c_custkey AS VARCHAR), 8, '0')) AS fp_id,
    (c_custkey * 97) % 10500 + 125e-3 AS cx,
    (c_custkey * 89) % 10500 + 125e-3 AS cy,
    (c_custkey % 40) + 5375e-3         AS a,
    (c_custkey % 30) + 5375e-3         AS b,
    (c_custkey % 12) * 15e0          AS theta_deg
  FROM customer
)"""


def footprints_with_env(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Footprints + tight envelope (minx..maxy) of the rotated rect —
    mirrors the SetSpatialFilterRect prefilter columns
    (/root/reference/src/bf_gridding.py:184)."""
    return env_from_meta(footprints_meta(spark, sf_dir))


def env_from_meta(fp: DataFrame) -> DataFrame:
    cos, sin = "abs(cos(radians(theta_deg)))", "abs(sin(radians(theta_deg)))"
    ex, ey = f"a * {cos} + b * {sin}", f"a * {sin} + b * {cos}"
    return fp.selectExpr(
        "*",
        f"cx - ({ex}) AS minx",
        f"cx + ({ex}) AS maxx",
        f"cy - ({ey}) AS miny",
        f"cy + ({ey}) AS maxy",
    )


FOOTPRINTS_ENV_SQL = """
footprints_env AS (
  SELECT *,
    cx - (a * abs(cos(radians(theta_deg))) + b * abs(sin(radians(theta_deg)))) AS minx,
    cx + (a * abs(cos(radians(theta_deg))) + b * abs(sin(radians(theta_deg)))) AS maxx,
    cy - (a * abs(sin(radians(theta_deg))) + b * abs(cos(radians(theta_deg)))) AS miny,
    cy + (a * abs(sin(radians(theta_deg))) + b * abs(cos(radians(theta_deg)))) AS maxy
  FROM footprints_meta
)"""


def footprint_rings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialize each rotated rect as a closed 5-point ring
    array<array<double>> — the generic polygon shape the engine's PIP
    ray-caster consumes (it never sees the rect parameters)."""
    return rings_from_meta(footprints_meta(spark, sf_dir))


def rings_from_meta(fp: DataFrame) -> DataFrame:
    ct, st = "cos(radians(theta_deg))", "sin(radians(theta_deg))"

    def corner(su: int, sv: int) -> str:
        # local (u,v) -> world: (cx + u*cos - v*sin, cy + u*sin + v*cos)
        u, v = f"(a * {su})", f"(b * {sv})"
        return f"array(cx + {u} * {ct} - {v} * {st}, cy + {u} * {st} + {v} * {ct})"

    corners = (corner(-1, -1), corner(1, -1), corner(1, 1), corner(-1, 1), corner(-1, -1))
    return fp.selectExpr(
        "fp_id", "cx", "cy", "a", "b", "theta_deg", f"array({', '.join(corners)}) AS ring"
    )


# --------------------------------------------------------------------------- #
# points(pt_id, px, py)  — from `events`
# --------------------------------------------------------------------------- #

def points_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = spark.read.schema("event_id BIGINT").parquet(f"{sf_dir}/events.parquet")
    return e.selectExpr(
        "event_id AS pt_id",
        f"(event_id * 131) % {WORLD} + 0.25D AS px",
        f"(event_id * 173) % {WORLD} + 0.25D AS py",
    )


POINTS_META_SQL = """
points_meta AS (
  SELECT
    event_id                     AS pt_id,
    (event_id * 131) % 10500 + 25e-2 AS px,
    (event_id * 173) % 10500 + 25e-2 AS py
  FROM events
)"""


def with_ctes(*ctes: str, body: str) -> str:
    """Compose CTE snippets (each 'name AS (...)') + final SELECT body."""
    return "WITH " + ",".join(ctes) + "\n" + body
