"""Pure-Python/numpy geometry kernel (no Spark dependency).

Modules:
- fmt      Rust-Display-compatible f64 formatting
- model    recursive Geom value type (columnar dual of geozero events)
- wkb      WKB codec, 5 dialects (wkb/ewkb/gpkg/spatialite/mysql)
- wkt      WKT/EWKT codec
- geojson  GeoJSON codec
- bounds   bbox / npoints streaming aggregates
- cells    Morton z-order cell index (S2/H3-style)
- tiles    z/x/y tile math + MVT map->tile transform
- pip      even-odd ray-cast point-in-polygon
- svg      SVG path writer (writer.rs parity)
- gpx      GPX reader (tracks/routes/waypoints -> GeometryCollection)
- tessellate  ear-clipping polygon fill triangulation
- structrepr  GeoArrow-style geometry struct column
- mvt      Mapbox Vector Tile protobuf encode/decode
"""

from . import (bounds, cells, fmt, geojson, gpx, model, mvt, pip,  # noqa: F401
               structrepr, svg, tessellate, tiles, wkb, wkt)
