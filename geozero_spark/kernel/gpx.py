"""GPX reader — parity with geozero/src/gpx/gpx_reader.rs.

Event order (gpx_reader.rs:26-43):
GeometryCollection( size = |waypoints| + |tracks| + |routes| ) of
- one Point per top-level waypoint (:45-56, wrap_point=true)
- one MultiLineString per track, one LineString per segment (:68-97)
- ONE MultiLineString for all routes, one LineString per route
  (:99-115)
Empty tracks/segments/routes are skipped (each fn early-returns on
empty). x = lon, y = lat.
"""

from __future__ import annotations

import xml.etree.ElementTree as ET

from .model import GEOMETRYCOLLECTION, MULTILINESTRING, POINT, Geom


class GpxError(ValueError):
    pass


def _local(tag: str) -> str:
    return tag.rsplit("}", 1)[-1]


def _pt(el) -> tuple:
    try:
        return (float(el.attrib["lon"]), float(el.attrib["lat"]))
    except (KeyError, ValueError) as e:
        raise GpxError(f"invalid waypoint: {e}")


def decode(text: str) -> Geom:
    """GPX document -> GeometryCollection (read_gpx semantics)."""
    try:
        root = ET.fromstring(text)
    except ET.ParseError as e:
        raise GpxError(str(e))
    if _local(root.tag) != "gpx":
        raise GpxError(f"not a gpx document: {root.tag}")
    members: list[Geom] = []
    waypoints = []
    tracks = []
    routes = []
    for el in root:
        t = _local(el.tag)
        if t == "wpt":
            waypoints.append(el)
        elif t == "trk":
            tracks.append(el)
        elif t == "rte":
            routes.append(el)
    for w in waypoints:
        members.append(Geom(POINT, _pt(w)))
    for trk in tracks:
        lines = []
        for seg in trk:
            if _local(seg.tag) != "trkseg":
                continue
            pts = [_pt(p) for p in seg if _local(p.tag) == "trkpt"]
            if pts:
                lines.append(pts)
        if lines:
            members.append(Geom(MULTILINESTRING, lines))
    route_lines = []
    for rte in routes:
        pts = [_pt(p) for p in rte if _local(p.tag) == "rtept"]
        if pts:
            route_lines.append(pts)
    if route_lines:
        members.append(Geom(MULTILINESTRING, route_lines))
    return Geom(GEOMETRYCOLLECTION, members)
