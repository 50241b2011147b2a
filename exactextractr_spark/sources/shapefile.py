"""ESRI Shapefile vector source — stdlib struct, no GDAL/OGR.

The reference reads features through sf/OGR (``R/exact_extract.R:450``);
shapefiles are the most common OGR input. Format per the public ESRI
"Shapefile Technical Description" (July 1998): ``.shp`` holds geometry
records (mixed-endian: record framing big-endian, coordinates
little-endian), ``.dbf`` the attributes (dBASE III fixed-width records),
``.prj`` an optional WKT CRS.

Geometry conversion to WKB follows the spec's ring-orientation rule:
polygon rings wind CLOCKWISE for outers and counter-clockwise for holes;
holes are attached to the outer ring that contains their first vertex
(point-in-ring test, only needed for multi-outer records).

Like the GPKG source, parsing happens on the driver (feature tables are
the small side of the zonal join; the reference materializes them through
sf the same way) and lands in Spark as ONE Arrow-backed LocalTableScan.
"""

from __future__ import annotations

import os
import struct

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession

from ..core.geom import Geometry, from_wkb, signed_area, to_wkb
from .features import prepare_features

_SHAPE_POINT = {1, 11, 21}
_SHAPE_POLYLINE = {3, 13, 23}
_SHAPE_POLYGON = {5, 15, 25}
_SHAPE_MULTIPOINT = {8, 18, 28}


def _point_in_ring(pt: np.ndarray, ring: np.ndarray) -> bool:
    """Even-odd rule; ring is closed (first == last)."""
    x, y = float(pt[0]), float(pt[1])
    x0, y0 = ring[:-1, 0], ring[:-1, 1]
    x1, y1 = ring[1:, 0], ring[1:, 1]
    cond = (y0 > y) != (y1 > y)
    with np.errstate(divide="ignore", invalid="ignore"):
        xint = x0 + (y - y0) / (y1 - y0) * (x1 - x0)
    return bool(np.sum(cond & (x < xint)) % 2)


def _point(x: float, y: float) -> Geometry:
    return Geometry("Point", coords=np.array([x, y]))


def _polygon_record(rings: "list[np.ndarray]") -> Geometry:
    """Group shapefile rings into polygons: CW => outer, CCW => hole
    (spec convention; signed area < 0 means clockwise in the usual
    mathematical orientation). Degenerate zero-area rings are treated as
    outers so no geometry is silently dropped."""
    outers: list[list[np.ndarray]] = []
    holes: list[np.ndarray] = []
    for r in rings:
        if signed_area(r) <= 0.0:  # CW (or degenerate) -> outer
            outers.append([r])
        else:
            holes.append(r)
    if not outers:  # all-CCW malformed record: treat the rings as outers
        outers = [[r] for r in holes]
        holes = []
    for h in holes:
        target = None
        if len(outers) == 1:
            target = outers[0]
        else:
            for o in outers:
                if _point_in_ring(h[0], o[0]):
                    target = o
                    break
            if target is None:
                target = outers[0]
        target.append(h)
    polys = [Geometry("Polygon", rings=o) for o in outers]
    return polys[0] if len(polys) == 1 else Geometry("MultiPolygon", parts=polys)


def _parse_shp(path: str) -> "list[tuple[int, bytes | None]]":
    """(record_number, WKB or None for null shapes)."""
    buf = open(path, "rb").read()
    if len(buf) < 100 or struct.unpack(">i", buf[:4])[0] != 9994:
        raise ValueError(f"{path}: not a shapefile (bad file code)")
    out = []
    pos = 100
    n = len(buf)
    while pos + 8 <= n:
        recno, content_words = struct.unpack(">ii", buf[pos : pos + 8])
        body = buf[pos + 8 : pos + 8 + content_words * 2]
        pos += 8 + content_words * 2
        if len(body) < 4:
            break
        (stype,) = struct.unpack("<i", body[:4])
        if stype == 0:
            out.append((recno, None))
            continue
        if stype in _SHAPE_POINT:
            x, y = struct.unpack("<dd", body[4:20])
            out.append((recno, to_wkb(_point(x, y))))
        elif stype in _SHAPE_MULTIPOINT:
            (npts,) = struct.unpack("<i", body[36:40])
            pts = np.frombuffer(
                body[40 : 40 + 16 * npts], dtype="<f8"
            ).reshape(npts, 2)
            multi = Geometry("MultiPoint", parts=[_point(x, y) for x, y in pts])
            out.append((recno, to_wkb(multi)))
        elif stype in _SHAPE_POLYLINE or stype in _SHAPE_POLYGON:
            nparts, npts = struct.unpack("<ii", body[36:44])
            parts = struct.unpack("<" + "i" * nparts, body[44 : 44 + 4 * nparts])
            coords_off = 44 + 4 * nparts
            pts = np.frombuffer(
                body[coords_off : coords_off + 16 * npts], dtype="<f8"
            ).reshape(npts, 2)
            bounds = list(parts) + [npts]
            rings = [
                pts[bounds[i] : bounds[i + 1]] for i in range(nparts)
            ]
            rings = [r for r in rings if len(r) >= 2]
            if stype in _SHAPE_POLYLINE:
                lines = [Geometry("LineString", coords=r) for r in rings]
                g = (lines[0] if len(lines) == 1
                     else Geometry("MultiLineString", parts=lines))
            else:
                g = _polygon_record(rings)
            out.append((recno, to_wkb(g)))
        else:
            raise ValueError(
                f"{path}: shape type {stype} not supported "
                "(point/multipoint/polyline/polygon families only)"
            )
    return out


def _parse_dbf(path: str) -> pd.DataFrame:
    """dBASE III attribute table -> DataFrame (C as str, N/F as numeric,
    L as bool, D as str). Deleted rows ('*' flag) are skipped."""
    buf = open(path, "rb").read()
    nrec, hdr_size, rec_size = struct.unpack("<IHH", buf[4:12])
    fields = []
    pos = 32
    while pos < hdr_size - 1 and buf[pos] != 0x0D:
        desc = buf[pos : pos + 32]
        name = desc[:11].split(b"\x00")[0].decode("latin-1")
        ftype = chr(desc[11])
        flen = desc[16]
        fdec = desc[17]
        fields.append((name, ftype, flen, fdec))
        pos += 32
    cols: dict[str, list] = {name: [] for name, *_ in fields}
    pos = hdr_size
    for _ in range(nrec):
        rec = buf[pos : pos + rec_size]
        pos += rec_size
        if not rec:
            continue
        if rec[0:1] == b"*":
            # deleted record: keep a null placeholder so record-number
            # indexing stays aligned with the .shp record sequence
            for name, *_f in fields:
                cols[name].append(None)
            continue
        off = 1
        for name, ftype, flen, fdec in fields:
            raw = rec[off : off + flen]
            off += flen
            txt = raw.decode("latin-1").strip()
            if ftype in ("N", "F"):
                if not txt:
                    cols[name].append(None)
                elif fdec or ftype == "F" or "." in txt:
                    cols[name].append(float(txt))
                else:
                    try:
                        cols[name].append(int(txt))
                    except ValueError:
                        # some writers emit exponent notation ('1E+10') in
                        # wide integer N fields — fall back to float
                        cols[name].append(float(txt))
            elif ftype == "L":
                cols[name].append(
                    True if txt in "YyTt" else False if txt in "NnFf" else None
                )
            else:
                cols[name].append(txt)
    return pd.DataFrame(cols)


def _crs_from_prj(path: str) -> "str | None":
    """Best-effort EPSG from the .prj WKT: explicit AUTHORITY tag first,
    then the handful of names that cover the vast majority of files."""
    if not os.path.exists(path):
        return None
    wkt = open(path, "r", encoding="latin-1").read()
    import re

    m = None
    for m in re.finditer(r'AUTHORITY\["EPSG",\s*"?(\d+)"?\]', wkt):
        pass  # the LAST authority tag is the outermost CRS
    if m:
        return f"EPSG:{m.group(1)}"
    head = wkt[:200].upper()
    if "WGS_1984_WEB_MERCATOR" in head or "PSEUDO-MERCATOR" in head:
        return "EPSG:3857"
    if head.startswith('GEOGCS["GCS_WGS_1984"') or 'GEOGCS["WGS 84"' in head:
        return "EPSG:4326"
    # no EPSG authority: keep the WKT itself when core/crs can interpret
    # its PROJECTION/PARAMETER nodes (resolved lazily by crs._norm), so
    # parameter-only .prj files still transform instead of losing the CRS
    try:
        from ..core.crs import wkt_to_projstr

        return wkt_to_projstr(wkt)
    except ValueError:
        return None


def read_shapefile(
    spark: SparkSession,
    path: str,
    *,
    id_col: str | None = None,
    keep_cols: "list[str] | None" = None,
):
    """Read a ``.shp`` (+ sidecar ``.dbf``/``.prj``) into the normalized
    feature shape ready for ``exact_extract``, mirroring
    :func:`~exactextractr_spark.sources.geopackage.read_gpkg`:

    - ``id_col`` names a ``.dbf`` column to use as ``feature_id``
      (must be integral); default is the 1-based shapefile record number.
    - with ``keep_cols`` the return is ``(features, attrs)``.
    - null-shape records are dropped (OGR parity).
    """
    base = path[:-4] if path.lower().endswith(".shp") else path
    shp = _parse_shp(base + ".shp")
    dbf_path = base + ".dbf"
    attrs_pdf = _parse_dbf(dbf_path) if os.path.exists(dbf_path) else None
    if attrs_pdf is not None and len(attrs_pdf) != len(shp):
        raise ValueError(
            f"{base}.dbf has {len(attrs_pdf)} rows but {base}.shp has "
            f"{len(shp)} records"
        )
    keep = [(rn, wkb) for rn, wkb in shp if wkb is not None]
    if id_col is not None:
        if attrs_pdf is None or id_col not in attrs_pdf.columns:
            raise ValueError(f"id column {id_col!r} not in {base}.dbf")
        ids_all = list(attrs_pdf[id_col])
        ids = [int(ids_all[rn - 1]) for rn, _ in keep]
    else:
        ids = [rn for rn, _ in keep]
    pdf = pd.DataFrame(
        {
            "feature_id": pd.Series(ids, dtype="int64"),
            "geom": [wkb for _, wkb in keep],
        }
    )
    if keep_cols:
        if attrs_pdf is None:
            raise ValueError(f"no {base}.dbf to take keep_cols from")
        missing = [c for c in keep_cols if c not in attrs_pdf.columns]
        if missing:
            raise ValueError(f"columns {missing} not in {base}.dbf")
        for c in keep_cols:
            vals = list(attrs_pdf[c])
            pdf[c] = [vals[rn - 1] for rn, _ in keep]
    df = spark.createDataFrame(pdf)
    crs = _crs_from_prj(base + ".prj")
    feats = prepare_features(df, "feature_id", "geom", crs=crs)
    if keep_cols:
        return feats, df.select("feature_id", *keep_cols)
    return feats


# ---------------------------------------------------------------------------
# sink
# ---------------------------------------------------------------------------


def _wkb_to_shp_rings(wkb: bytes) -> "tuple[int, list[np.ndarray]]":
    """WKB -> (shape_type, parts) in shapefile conventions: polygons as
    rings wound CW for outers / CCW for holes, polylines as-is."""
    g = from_wkb(wkb)
    polys = g.polygons()
    if polys:
        parts: list[np.ndarray] = []
        for rings in polys:
            for j, r in enumerate(rings):
                a = np.asarray(r, dtype="<f8")
                if not np.array_equal(a[0], a[-1]):
                    a = np.vstack([a, a[:1]])
                area = signed_area(a)
                # outer (j==0) must be CW (area<=0), holes CCW (area>0)
                if (j == 0 and area > 0) or (j > 0 and area < 0):
                    a = a[::-1]
                parts.append(a)
        return 5, parts
    lines = g.linestrings()
    if lines:
        return 3, [np.asarray(ln, dtype="<f8") for ln in lines]
    raise ValueError(f"geometry kind {g.kind!r} not writable to shapefile")


def write_shapefile(
    path_base: str,
    attrs: pd.DataFrame,
    geoms: "dict[int, bytes]",
    *,
    crs: "str | None" = None,
) -> None:
    """Write ``<path_base>.shp`` + ``.shx`` + ``.dbf`` (+ ``.prj`` when a
    CRS is given) — the OGR-writer parity sink for the shapefile source
    (reference CLI writes any OGR format, gdal_writer.h:25-54).

    ``attrs`` must contain ``feature_id`` (written as an N field ``FID``);
    other columns become dBASE fields (N for numerics, C otherwise).
    All geometries must be the same family (polygon or polyline)."""
    if path_base.lower().endswith(".shp"):
        path_base = path_base[:-4]
    if "feature_id" not in attrs.columns:
        raise ValueError("attrs must contain a feature_id column")
    ids = [int(i) for i in attrs["feature_id"]]
    missing = [i for i in ids if i not in geoms]
    if missing:
        raise ValueError(f"no geometry for feature_id(s) {missing[:5]}")
    shapes = [_wkb_to_shp_rings(geoms[i]) for i in ids]
    stypes = {t for t, _ in shapes}
    if len(stypes) > 1:
        raise ValueError(
            "mixed polygon/polyline geometries cannot share one shapefile"
        )
    stype = next(iter(stypes)) if shapes else 5

    recs = []
    shx = []
    offset_words = 50  # .shp header = 100 bytes
    for recno, (st, parts) in enumerate(shapes, start=1):
        pts = np.vstack(parts)
        part_offs = []
        off = 0
        for pr in parts:
            part_offs.append(off)
            off += len(pr)
        content = struct.pack("<i", st)
        content += struct.pack(
            "<4d", pts[:, 0].min(), pts[:, 1].min(),
            pts[:, 0].max(), pts[:, 1].max(),
        )
        content += struct.pack("<ii", len(parts), len(pts))
        content += struct.pack("<" + "i" * len(part_offs), *part_offs)
        content += np.ascontiguousarray(pts, dtype="<f8").tobytes()
        recs.append(struct.pack(">ii", recno, len(content) // 2) + content)
        shx.append(struct.pack(">ii", offset_words, len(content) // 2))
        offset_words += 4 + len(content) // 2
    body = b"".join(recs)

    if shapes:
        all_pts = np.vstack([np.vstack(p) for _, p in shapes])
        bbox = (all_pts[:, 0].min(), all_pts[:, 1].min(),
                all_pts[:, 0].max(), all_pts[:, 1].max())
    else:
        bbox = (0.0, 0.0, 0.0, 0.0)

    def _header(total_words: int) -> bytes:
        h = struct.pack(">i", 9994) + b"\x00" * 20
        h += struct.pack(">i", total_words)
        h += struct.pack("<ii", 1000, stype)
        h += struct.pack("<4d", *bbox)
        h += struct.pack("<4d", 0, 0, 0, 0)
        return h

    open(path_base + ".shp", "wb").write(
        _header((100 + len(body)) // 2) + body
    )
    open(path_base + ".shx", "wb").write(
        _header((100 + 8 * len(shx)) // 2) + b"".join(shx)
    )

    # .dbf: FID + attribute columns
    attr_cols = [c for c in attrs.columns if c != "feature_id"]
    fields = [("FID", "N", 18, 0)]
    for c in attr_cols:
        k = getattr(attrs[c].dtype, "kind", "O")
        if k in ("i", "u"):
            fields.append((c[:10], "N", 18, 0))
        elif k == "f":
            fields.append((c[:10], "N", 24, 10))
        else:
            width = max(
                [1] + [len(str(v)) for v in attrs[c]]
            )
            fields.append((c[:10], "C", min(254, width), 0))
    fdesc = b""
    rec_size = 1
    for name, ftype, flen, fdec in fields:
        fdesc += (
            name.encode("latin-1").ljust(11, b"\x00")
            + ftype.encode()
            + b"\x00" * 4
            + bytes([flen, fdec])
            + b"\x00" * 14
        )
        rec_size += flen
    hdr_size = 32 + len(fdesc) + 1
    out = bytearray(
        bytes([3, 96, 1, 1])
        + struct.pack("<IHH", len(ids), hdr_size, rec_size)
        + b"\x00" * 20
        + fdesc
        + b"\x0d"
    )
    for _, row in attrs.iterrows():
        out += b" "
        vals = [int(row["feature_id"])] + [row[c] for c in attr_cols]
        for (name, ftype, flen, fdec), v in zip(fields, vals):
            if ftype == "N":
                if v is None or (isinstance(v, float) and v != v):
                    out += b" " * flen
                elif fdec:
                    out += (f"%{flen}.{fdec}f" % float(v)).rjust(flen)[:flen].encode()
                else:
                    out += str(int(v)).rjust(flen)[:flen].encode()
            else:
                out += str(v if v is not None else "").ljust(flen)[:flen].encode("latin-1")
    out += b"\x1a"
    open(path_base + ".dbf", "wb").write(bytes(out))

    if crs:
        # real WKT (PROJECTION/PARAMETER nodes) for every CRS the registry
        # implements; for codes without a faithful definition the .prj is
        # OMITTED — a structurally hollow PROJCS would misparse in
        # OGR/ArcGIS and help no one
        from ..core.crs import crs_wkt

        wkt = crs_wkt(crs)
        if wkt:
            open(path_base + ".prj", "w").write(wkt)
