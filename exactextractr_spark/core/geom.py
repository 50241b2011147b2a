"""Minimal pure-numpy geometry: WKT/WKB(EWKB) parsing + ring math.

The reference passes geometries as EWKB one-at-a-time into GEOS
(``R/exact_extract.R:527``); we parse WKB/WKT ourselves (shapely is not
available in this environment) into plain numpy ring arrays.

Supported types: Point, LineString, Polygon, MultiPoint, MultiLineString,
MultiPolygon, GeometryCollection. Z/M ordinates are parsed and dropped
(reference drops Z: tests/testthat/test_exact_extract.R:654-662).
"""

from __future__ import annotations

import math
import re
import struct
from dataclasses import dataclass, field

import numpy as np

# WKB geometry type codes (base, before Z/M/SRID flags)
_POINT, _LINESTRING, _POLYGON = 1, 2, 3
_MULTIPOINT, _MULTILINESTRING, _MULTIPOLYGON, _COLLECTION = 4, 5, 6, 7
_TYPE_NAMES = {
    _POINT: "Point",
    _LINESTRING: "LineString",
    _POLYGON: "Polygon",
    _MULTIPOINT: "MultiPoint",
    _MULTILINESTRING: "MultiLineString",
    _MULTIPOLYGON: "MultiPolygon",
    _COLLECTION: "GeometryCollection",
}

_EWKB_Z = 0x80000000
_EWKB_M = 0x40000000
_EWKB_SRID = 0x20000000


@dataclass
class Geometry:
    """Parsed geometry.

    - ``kind``: one of the WKB type names above.
    - ``coords``: for Point, shape-(2,) array; for LineString, (N,2) array.
    - ``rings``: for Polygon, list of (N,2) closed ring arrays (first =
      exterior, rest = holes).
    - ``parts``: for Multi*/GeometryCollection, child Geometry list.
    """

    kind: str
    coords: np.ndarray | None = None
    rings: list[np.ndarray] = field(default_factory=list)
    parts: list["Geometry"] = field(default_factory=list)
    srid: int | None = None

    # --- structure ----------------------------------------------------------
    def polygons(self) -> list[list[np.ndarray]]:
        """Flatten to a list of polygons, each a list of rings
        (exterior first). Recurses through Multi*/collections."""
        if self.kind == "Polygon":
            return [self.rings] if self.rings else []
        if self.kind in ("MultiPolygon", "GeometryCollection"):
            out = []
            for p in self.parts:
                out.extend(p.polygons())
            return out
        return []

    def linestrings(self) -> list[np.ndarray]:
        if self.kind == "LineString":
            return [self.coords] if self.coords is not None and len(self.coords) else []
        if self.kind in ("MultiLineString", "GeometryCollection"):
            out = []
            for p in self.parts:
                out.extend(p.linestrings())
            return out
        return []

    def is_areal(self) -> bool:
        return len(self.polygons()) > 0

    def bounds(self) -> tuple[float, float, float, float]:
        xs: list[float] = []
        ys: list[float] = []
        if self.coords is not None and len(self.coords):
            xs += [float(self.coords[..., 0].min()), float(self.coords[..., 0].max())]
            ys += [float(self.coords[..., 1].min()), float(self.coords[..., 1].max())]
        for r in self.rings:
            xs += [float(r[:, 0].min()), float(r[:, 0].max())]
            ys += [float(r[:, 1].min()), float(r[:, 1].max())]
        for p in self.parts:
            b = p.bounds()
            if b is not None:
                xs += [b[0], b[2]]
                ys += [b[1], b[3]]
        if not xs:
            return (math.nan,) * 4  # empty geometry
        return (min(xs), min(ys), max(xs), max(ys))

    def area(self) -> float:
        """Unsigned area (exterior − holes per polygon, abs per ring)."""
        total = 0.0
        for rings in self.polygons():
            for i, r in enumerate(rings):
                a = abs(signed_area(r))
                total += a if i == 0 else -a
        return total


def signed_area(ring: np.ndarray) -> float:
    """Shoelace signed area; positive = CCW. Ref: measures.cpp:21-41."""
    x = ring[:, 0]
    y = ring[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


# ---------------------------------------------------------------------------
# WKB
# ---------------------------------------------------------------------------

class _WkbReader:
    def __init__(self, buf: bytes):
        self.buf = buf
        self.pos = 0

    def geometry(self) -> Geometry:
        byte_order = self.buf[self.pos]
        self.pos += 1
        endian = "<" if byte_order == 1 else ">"
        (raw_type,) = struct.unpack_from(endian + "I", self.buf, self.pos)
        self.pos += 4
        srid = None
        has_z = bool(raw_type & _EWKB_Z)
        has_m = bool(raw_type & _EWKB_M)
        if raw_type & _EWKB_SRID:
            (srid,) = struct.unpack_from(endian + "i", self.buf, self.pos)
            self.pos += 4
        base = raw_type & 0x0FFF
        # ISO WKB encodes Z/M as +1000/+2000 offsets
        if base >= 3000:
            base -= 3000
            has_z = has_m = True
        elif base >= 2000:
            base -= 2000
            has_m = True
        elif base >= 1000:
            base -= 1000
            has_z = True
        ndim = 2 + int(has_z) + int(has_m)
        kind = _TYPE_NAMES.get(base)
        if kind is None:
            raise ValueError(f"unsupported WKB geometry type {raw_type}")

        def read_points(n: int) -> np.ndarray:
            arr = np.frombuffer(
                self.buf, dtype=endian + "f8", count=n * ndim, offset=self.pos
            ).reshape(n, ndim)
            self.pos += 8 * n * ndim
            return np.ascontiguousarray(arr[:, :2], dtype=np.float64)

        def read_count() -> int:
            (n,) = struct.unpack_from(endian + "I", self.buf, self.pos)
            self.pos += 4
            return n

        if base == _POINT:
            pts = read_points(1)
            return Geometry("Point", coords=pts[0], srid=srid)
        if base == _LINESTRING:
            return Geometry("LineString", coords=read_points(read_count()), srid=srid)
        if base == _POLYGON:
            nrings = read_count()
            rings = [read_points(read_count()) for _ in range(nrings)]
            return Geometry("Polygon", rings=rings, srid=srid)
        # multi / collection: children are full WKB geometries
        n = read_count()
        parts = [self.geometry() for _ in range(n)]
        return Geometry(kind, parts=parts, srid=srid)


def from_wkb(buf: bytes) -> Geometry:
    return _WkbReader(bytes(buf)).geometry()


def to_wkb(geom: Geometry) -> bytes:
    """Serialize (2-D, little-endian, no SRID)."""
    code = {v: k for k, v in _TYPE_NAMES.items()}[geom.kind]
    out = bytearray()
    out.append(1)
    out += struct.pack("<I", code)
    if geom.kind == "Point":
        out += struct.pack("<2d", float(geom.coords[0]), float(geom.coords[1]))
    elif geom.kind == "LineString":
        out += struct.pack("<I", len(geom.coords))
        out += np.asarray(geom.coords, dtype="<f8").tobytes()
    elif geom.kind == "Polygon":
        out += struct.pack("<I", len(geom.rings))
        for r in geom.rings:
            out += struct.pack("<I", len(r))
            out += np.asarray(r, dtype="<f8").tobytes()
    else:
        out += struct.pack("<I", len(geom.parts))
        for p in geom.parts:
            out += to_wkb(p)
    return bytes(out)


# ---------------------------------------------------------------------------
# WKT
# ---------------------------------------------------------------------------

_WKT_HEAD = re.compile(
    r"\s*(?:SRID=(\d+)\s*;\s*)?([A-Za-z]+)\s*(ZM|Z|M)?\s*(EMPTY)?", re.IGNORECASE
)


def _parse_coord_seq(text: str, ndim: int) -> np.ndarray:
    pts = []
    for tok in text.split(","):
        vals = [float(v) for v in tok.split()]
        pts.append(vals[:2])
    return np.asarray(pts, dtype=np.float64)


def _split_parens(body: str) -> list[str]:
    """Return the contents of each depth-2 paren group in ``body``.

    For ``((a),(b))`` → ``["a", "b"]``: the outer paren is the geometry
    body, inner groups are rings / parts.
    """
    parts = []
    depth = 0
    start = None
    for i, ch in enumerate(body):
        if ch == "(":
            depth += 1
            if depth == 2:
                start = i + 1
        elif ch == ")":
            if depth == 2:
                parts.append(body[start:i])
            depth -= 1
    return parts


def from_wkt(text: str) -> Geometry:
    m = _WKT_HEAD.match(text)
    if not m:
        raise ValueError(f"bad WKT: {text[:60]!r}")
    srid = int(m.group(1)) if m.group(1) else None
    name = m.group(2).upper()
    if m.group(4):  # EMPTY
        kind = {
            "POINT": "Point",
            "LINESTRING": "LineString",
            "POLYGON": "Polygon",
            "MULTIPOINT": "MultiPoint",
            "MULTILINESTRING": "MultiLineString",
            "MULTIPOLYGON": "MultiPolygon",
            "GEOMETRYCOLLECTION": "GeometryCollection",
        }[name]
        return Geometry(kind, srid=srid)
    body = text[m.end():].strip()
    ndim = 2 + (len(m.group(3) or ""))
    inner = body[1:-1] if body.startswith("(") else body
    if name == "POINT":
        return Geometry("Point", coords=_parse_coord_seq(inner, ndim)[0], srid=srid)
    if name == "LINESTRING":
        return Geometry("LineString", coords=_parse_coord_seq(inner, ndim), srid=srid)
    if name == "POLYGON":
        rings = [_parse_coord_seq(s, ndim) for s in _split_parens(body)]
        return Geometry("Polygon", rings=rings, srid=srid)
    if name == "MULTIPOINT":
        toks = _split_parens(body)
        if not toks:  # MULTIPOINT(1 2, 3 4) without inner parens
            toks = inner.split(",")
        parts = [Geometry("Point", coords=_parse_coord_seq(t, ndim)[0]) for t in toks]
        return Geometry("MultiPoint", parts=parts, srid=srid)
    if name == "MULTILINESTRING":
        parts = [
            Geometry("LineString", coords=_parse_coord_seq(s, ndim))
            for s in _split_parens(body)
        ]
        return Geometry("MultiLineString", parts=parts, srid=srid)
    if name == "MULTIPOLYGON":
        parts = []
        for poly in _split_parens(body):
            rings = [_parse_coord_seq(s, ndim) for s in _split_parens("(" + poly + ")")]
            parts.append(Geometry("Polygon", rings=rings))
        return Geometry("MultiPolygon", parts=parts, srid=srid)
    if name == "GEOMETRYCOLLECTION":
        # split top-level commas that separate child geometries
        parts = []
        depth = 0
        start = 0
        for i, ch in enumerate(inner):
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            elif ch == "," and depth == 0:
                parts.append(from_wkt(inner[start:i]))
                start = i + 1
        parts.append(from_wkt(inner[start:]))
        return Geometry("GeometryCollection", parts=parts, srid=srid)
    raise ValueError(f"unsupported WKT type {name}")


def to_geojson(geom: Geometry) -> dict:
    """RFC 7946 geometry object (for the CLI's GeoJSON sink — the
    reference CLI writes any OGR format, gdal_writer.h:25-54)."""
    k = geom.kind
    if k == "Point":
        return {"type": "Point", "coordinates": list(map(float, geom.coords))}
    if k == "LineString":
        return {"type": "LineString", "coordinates": geom.coords.tolist()}
    if k == "Polygon":
        return {"type": "Polygon", "coordinates": [r.tolist() for r in geom.rings]}
    if k == "MultiPoint":
        return {
            "type": "MultiPoint",
            "coordinates": [list(map(float, p.coords)) for p in geom.parts],
        }
    if k == "MultiLineString":
        return {
            "type": "MultiLineString",
            "coordinates": [p.coords.tolist() for p in geom.parts],
        }
    if k == "MultiPolygon":
        return {
            "type": "MultiPolygon",
            "coordinates": [[r.tolist() for r in p.rings] for p in geom.parts],
        }
    if k == "GeometryCollection":
        return {
            "type": "GeometryCollection",
            "geometries": [to_geojson(p) for p in geom.parts],
        }
    raise ValueError(f"cannot serialize {k} to GeoJSON")
