"""JVM-side Column helpers over the geometry struct — no Python workers.

The reference's coordinate-transform interposer (`pre_process_xy`,
geozero/src/wrap.rs:5-54) becomes a Catalyst `transform()` over the flat
coords array; bbox/point accessors are plain field reads. Keeping these
as built-in expressions keeps the post-decode pipeline inside
whole-stage codegen.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from . import udfs as _udfs


def scale_flat(geom: Column, factor: float) -> Column:
    """Uniformly scale a FLAT geometry struct (coords + bbox); exotic
    kinds carrying a wkb fallback are not supported on this JVM path —
    route those through a UDF if ever needed. Every other field, the
    T/TM side lanes included, passes through untouched —
    pre_process_xy parity (wrap.rs:5-54 forwards t/tm verbatim) — and
    a NULL struct stays NULL."""
    f = F.lit(float(factor))
    return (geom.withField("bbox", F.transform(geom["bbox"], lambda v: v * f))
            .withField("coords",
                       F.transform(geom["coords"], lambda v: v * f)))


def _geom_struct(**fields: Column) -> Column:
    """The geometry struct with ``fields`` set and every other field
    NULL (the field list is udfs.GEOMETRY_TYPE's)."""
    return F.struct(*(
        fields.get(f.name, F.lit(None).cast(f.dataType)).alias(f.name)
        for f in _udfs.GEOMETRY_TYPE.fields))


def _geom_sql(**fields: str) -> str:
    """SQL text of ``_geom_struct``: a named_struct with ``fields`` set
    and every other field a typed NULL."""
    return "named_struct(" + ", ".join(
        f"'{f.name}', "
        + fields.get(f.name, f"CAST(NULL AS {f.dataType.simpleString()})")
        for f in _udfs.GEOMETRY_TYPE.fields) + ")"


# spread-bits masks: the single source of truth is sqlgen (which pins
# kernel/cells.py parity in tests) — imported, not copied, so the
# staged columns, the SQL text oracle and the kernel cannot drift
from . import sqlgen as _sg

_SPREAD_MASKS = _sg._MASKS
_RES_SHIFT = _sg.RES_SHIFT


def _spread_staged(df: DataFrame, src: Column, tmp: str) -> DataFrame:
    """Interleave zeros between the low 32 bits of ``src``, one
    withColumn per mask step (kernel/cells._spread parity)."""
    v = src
    for sh, m in _SPREAD_MASKS:
        df = df.withColumn(
            tmp, v.bitwiseOR(F.shiftleft(v, sh)).bitwiseAND(F.lit(m)))
        v = F.col(tmp)
    return df


def with_cell_col(df: DataFrame, lon: Column | str, lat: Column | str,
                  res: int, out: str = "cell") -> DataFrame:
    """Morton cell id as STAGED columns — bit-identical to
    kernel.cells.cell_id and sqlgen.cell_id, but each spread step is its
    own projected column instead of one textually-expanded expression.

    Why staged: sqlgen.spread duplicates its input twice per mask level
    (2^5 = 32x textual blow-up of the grid-coord subexpression), so the
    single-expression form costs ~1.3s of cold SQL parse plus ~3s of
    cold janino whole-stage-codegen compile per fresh plan shape
    (measured: 4.19s cold -> 0.90s with this form, identical warm
    time). Catalyst's CollapseProject keeps the stages separate because
    each step references its input twice and the input is non-cheap —
    so codegen sees every intermediate exactly once. Keep the sqlgen
    text form for DuckDB oracles and parquet-pushdown predicates
    (Project-into-Filter pushdown WOULD re-inline; see PLANS.md).
    The clamped grid coords go through with_cell_from_ixiy, the one
    staged spread/assemble sequence.
    """
    ix, iy = grid_ixy(lon, lat, res)
    return with_cell_from_ixiy(df, ix, iy, res, out=out)


def grid_ixy(lon: Column | str, lat: Column | str,
             res: int) -> tuple[Column, Column]:
    """Clamped integer grid coords at ``res`` (sqlgen.grid_ixy parity);
    the exact 2^res scale makes them a finer level's coords >> the gap."""
    n = 1 << res
    lonc = F.col(lon) if isinstance(lon, str) else lon
    latc = F.col(lat) if isinstance(lat, str) else lat
    ix = F.least(F.greatest(
        F.floor((lonc + F.lit(180.0)) / F.lit(360.0) * F.lit(n))
        .cast("bigint"), F.lit(0)), F.lit(n - 1))
    iy = F.least(F.greatest(
        F.floor((latc + F.lit(90.0)) / F.lit(180.0) * F.lit(n))
        .cast("bigint"), F.lit(0)), F.lit(n - 1))
    return ix, iy


def with_cell_from_ixiy(df: DataFrame, ix: Column | str,
                        iy: Column | str, res: int,
                        out: str = "cell") -> DataFrame:
    """Morton cell id from ALREADY-COMPUTED integer grid coords, one
    projected column per spread step (kernel.cells.make_cell /
    sqlgen.make_cell parity). with_cell_col feeds it clamped lon/lat
    coords; cover/disk explodes feed their own expressions (e.g.
    pmod-wrapped offsets)."""
    ixc = F.col(ix) if isinstance(ix, str) else ix
    iyc = F.col(iy) if isinstance(iy, str) else iy
    df = (df.withColumn("__gz_ix", ixc.cast("bigint"))
          .withColumn("__gz_iy", iyc.cast("bigint")))
    df = _spread_staged(df, F.col("__gz_ix"), "__gz_sx")
    df = _spread_staged(df, F.col("__gz_iy"), "__gz_sy")
    df = df.withColumn(out, F.lit(res << _RES_SHIFT).bitwiseOR(
        F.col("__gz_sx").bitwiseOR(F.shiftleft(F.col("__gz_sy"), 1))))
    return df.drop("__gz_ix", "__gz_iy", "__gz_sx", "__gz_sy")


def point_x(geom: Column) -> Column:
    return F.element_at(geom["coords"], 1)


def point_y(geom: Column) -> Column:
    return F.element_at(geom["coords"], 2)


def point_struct_from_xy(x: Column, y: Column) -> Column:
    """Geometry struct for a 2D point from already-parsed numeric
    columns (NULL when either is NULL) — same struct, bit-identical
    doubles, as point_struct_from_wkt_jvm on the equivalent text."""
    xd = x.cast("double")
    yd = y.cast("double")
    st = _geom_struct(kind=F.lit(1).cast("tinyint"), has_z=F.lit(False),
                      has_m=F.lit(False), bbox=F.array(xd, yd, xd, yd),
                      coords=F.array(xd, yd))
    return F.when(x.isNotNull() & y.isNotNull(), st) \
        .otherwise(F.lit(None))


def point_struct_from_wkt_jvm(wkt: Column) -> Column:
    """Pure-JVM parse of simple 2D ``POINT(x y)`` WKT into the geometry
    struct — NULL when the text does not match (callers can coalesce
    with the kernel Arrow-UDF decode for mixed inputs).

    This is the scale path for point-dominated pipelines: the kernel
    codec (functions/udfs.st_geomfromwkt) stays the general/parity
    path, but a point scan at 10^12 rows should never leave
    whole-stage codegen just to split two numbers. CAST(text AS DOUBLE)
    is exact for the integer centi-degree payloads, so downstream
    arithmetic is bit-identical to the kernel path.
    """
    # strict numerals: [-0-9.]+ would accept 'POINT(1.2.3 4)' and emit
    # a non-NULL struct with NULL coords (CAST -> NULL) instead of
    # taking the documented NULL fallback path; a non-match extracts ''
    num = r"(-?[0-9]+(?:\.[0-9]+)?)"
    pat = rf"^POINT\({num} {num}\)$"
    x, y = (F.nullif(F.regexp_extract(wkt, pat, i), F.lit(""))
            for i in (1, 2))
    return point_struct_from_xy(x, y)


def _pairs_sql(inner: str) -> str:
    return (f"transform(split({inner}, ','), p -> named_struct("
            f"'x', CAST(element_at(split(p, ' '), 1) AS DOUBLE), "
            f"'y', CAST(element_at(split(p, ' '), 2) AS DOUBLE)))")


def _geom_sql_from_pairs(kind: int, pairs: str, with_offs: bool) -> str:
    bbox = (f"array(array_min(transform({pairs}, r -> r.x)), "
            f"array_min(transform({pairs}, r -> r.y)), "
            f"array_max(transform({pairs}, r -> r.x)), "
            f"array_max(transform({pairs}, r -> r.y)))")
    offs1 = (f"array(0, CAST(size({pairs}) AS INT))" if with_offs
             else "CAST(NULL AS ARRAY<INT>)")
    return _geom_sql(
        kind=f"CAST({kind} AS TINYINT)", has_z="false", has_m="false",
        bbox=bbox,
        coords=f"flatten(transform({pairs}, r -> array(r.x, r.y)))",
        offs1=offs1)


def _let_sql(value_sql: str, var: str, body_sql: str) -> str:
    """SQL 'let' binding: evaluate ``value_sql`` ONCE and bind it as a
    HOF lambda variable — lambda variables are bound VALUES, so the
    ``var`` references inside ``body_sql`` do NOT re-inline (and
    re-evaluate) the value expression the way plain column references
    do (the measured Catalyst trap behind simhash's 53x and this
    parser's rewrite)."""
    return (f"element_at(transform(array({value_sql}), "
            f"{var} -> {body_sql}), 1)")


_NUM_RE = "(-?[0-9]+(?:\\\\.[0-9]+)?)"
_GEOM_STRUCT_DDL = _udfs.GEOMETRY_TYPE.simpleString()


def simple_geom_from_wkt_jvm(wkt: Column) -> Column:
    """Pure-JVM parse of simple 2D LINESTRING / single-ring POLYGON /
    POINT WKT into the geometry struct; NULL otherwise.

    Companion to point_struct_from_wkt_jvm: the scale path for scans
    whose payloads are known-simple (the kernel codec stays the general
    parity path). split/cast expressions are exact for integer-valued
    text, so downstream arithmetic is bit-identical to the kernel
    decode.

    Evaluation shape: the input (often itself a derived
    regexp_extract over the page text) is LET-BOUND once, the three
    match-group extracts are LET-BOUND once, and the pair array of the
    matched branch is LET-BOUND once — so each regex scans the text
    exactly one time per row. The previous plain-column form
    re-inlined the extraction into every one of ~8 references (bbox
    min/max x4, size, flatten, guards): measured 1.4x on the 10M-row
    geos decode (19.94s -> 14.03s at 8 pinned cores)."""
    ls_body = _let_sql(_pairs_sql("_g.ls"), "_ps",
                       _geom_sql_from_pairs(2, "_ps", False))
    pg_body = _let_sql(_pairs_sql("_g.pg"), "_ps",
                       _geom_sql_from_pairs(3, "_ps", True))
    xy = "CAST(_g.px AS DOUBLE), CAST(_g.py AS DOUBLE)"
    pt_body = _geom_sql(kind="CAST(1 AS TINYINT)", has_z="false",
                        has_m="false", bbox=f"array({xy}, {xy})",
                        coords=f"array({xy})")
    groups = (
        "named_struct("
        "'ls', regexp_extract(_w, '^LINESTRING\\\\(([-0-9. ,]+)\\\\)$', 1), "
        "'pg', regexp_extract(_w, '^POLYGON\\\\(\\\\(([-0-9. ,]+)\\\\)\\\\)$', 1), "
        f"'px', regexp_extract(_w, '^POINT\\\\({_NUM_RE} {_NUM_RE}\\\\)$', 1), "
        f"'py', regexp_extract(_w, '^POINT\\\\({_NUM_RE} {_NUM_RE}\\\\)$', 2))")
    body = (
        "CASE "
        f"WHEN _g.ls != '' THEN {ls_body} "
        f"WHEN _g.pg != '' THEN {pg_body} "
        f"WHEN _g.px != '' AND _g.py != '' THEN {pt_body} "
        f"ELSE CAST(NULL AS {_GEOM_STRUCT_DDL}) END")
    return F.expr(_let_sql(
        _c(wkt), "_w", _let_sql(groups, "_g", body)))


def _c(col: Column) -> str:
    """SQL text of a simple column reference."""
    from pyspark.sql.column import Column as _Col
    if isinstance(col, str):
        return col
    return col._jc.toString()
