"""The geometry struct's field list is spelled out in one place.

``kernel/structrepr.py`` (the DDL and the dict form) and
``functions/udfs.py`` (``GEOMETRY_TYPE``) own the layout; every other
module builds the struct from ``udfs.GEOMETRY_TYPE.fields`` or
``withField``. ``tmvals`` is the last field, so a hand-written copy of
the full list names it; it appearing anywhere else in
``geozero_spark/`` is a second copy of the layout."""

import os

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PKG = os.path.join(ROOT, "geozero_spark")
OWNERS = {os.path.join(PKG, "kernel", "structrepr.py"),
          os.path.join(PKG, "functions", "udfs.py")}


def _layout_copies(src: str) -> list[int]:
    """Lines that name the geometry struct's last field."""
    return [i for i, line in enumerate(src.splitlines(), 1)
            if "tmvals" in line]


def test_scan_flags_a_hand_written_layout():
    src = ("F.struct(geom['kind'].alias('kind'),\n"
           "         geom['tmvals'].alias('tmvals'))\n"
           "f\"'tvals', CAST(NULL AS ARRAY<DOUBLE>), \"\n"
           "\"'tmvals', CAST(NULL AS ARRAY<BIGINT>))\"\n"
           "_geom_struct(kind=k, coords=c)\n")
    assert _layout_copies(src) == [2, 4]


def test_geometry_layout_lives_in_one_place():
    hits = []
    for d, _, files in os.walk(PKG):
        for f in files:
            p = os.path.join(d, f)
            if not f.endswith(".py") or p in OWNERS:
                continue
            with open(p, encoding="utf-8") as fh:
                hits += [f"{os.path.relpath(p, PKG)}:{ln}"
                         for ln in _layout_copies(fh.read())]
    assert not hits, hits
