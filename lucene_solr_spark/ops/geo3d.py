"""Geo3D — lucene/spatial3d's ellipsoidal point-in-shape membership
(Geo3DPoint.java, Geo3DUtil.java, geom/GeoPoint.java, Vector.java,
Plane.java, SidedPlane.java, GeoStandardCircle.java), scoped to the
distance-circle query (Geo3DPoint.newDistanceQuery ->
GeoCircleFactory.makeGeoCircle -> GeoStandardCircle on WGS84).

Pinned docid-exact vs the compiled module in GT round 82. All plain
IEEE double arithmetic replicated step-for-step: the WGS84 planet model
(ab/c scalings of the mean radius), the desired-ellipsoid-magnitude
projection, the 32-bit x/y/z quantization (floor encode, CENTER decode
(i+0.5)*DECODE), and the circle membership as ONE SidedPlane evaluation
(the plane through the two antipodal-safe cutoff points, sided by the
center) with Vector.MINIMUM_RESOLUTION slop — a membership test that is
a single dot product at query time, which is why it distributes as a
pure projection over (x, y, z) columns at 100 TB."""

from __future__ import annotations

import math

MINIMUM_RESOLUTION = 1.0e-12
WGS84_MEAN = 6371008.7714
WGS84_POLAR = 6356752.314245
WGS84_EQUATORIAL = 6378137.0
AB = WGS84_EQUATORIAL / WGS84_MEAN
C = WGS84_POLAR / WGS84_MEAN
_INV_AB2 = (1.0 / AB) * (1.0 / AB)
_INV_C2 = (1.0 / C) * (1.0 / C)
MAX_VALUE = max(AB, C)
_MUL = float(1 << 32) / (2.0 * MAX_VALUE)
DECODE = 1.0 / _MUL
RADIANS_PER_DEGREE = math.pi / 180.0
RADIANS_PER_METER = 1.0 / WGS84_MEAN


def encode_value(x: float) -> int:
    if x > MAX_VALUE or x < -MAX_VALUE:
        raise ValueError(f"value={x} out of bounds")
    if x == MAX_VALUE:
        x = math.nextafter(x, -math.inf)
    return int(math.floor(x / DECODE))


def decode_value(i: int) -> float:
    return (i + 0.5) * DECODE


def _magnitude_for(x: float, y: float, z: float) -> float:
    return 1.0 / math.sqrt(x * x * _INV_AB2 + y * y * _INV_AB2
                           + z * z * _INV_C2)


def geo_point(lat: float, lon: float) -> tuple[float, float, float]:
    """GeoPoint(PlanetModel.WGS84, lat, lon) — radians in."""
    sin_lat, cos_lat = math.sin(lat), math.cos(lat)
    sin_lon, cos_lon = math.sin(lon), math.cos(lon)
    ux = cos_lat * cos_lon
    uy = cos_lat * sin_lon
    uz = sin_lat
    m = _magnitude_for(ux, uy, uz)
    return (ux * m, uy * m, uz * m)


class _SidedPlane:
    def __init__(self, normal, d, inside):
        self.a, self.b, self.c = normal
        self.d = d
        sig = self.evaluate(*inside)
        self.sig_num = math.copysign(1.0, sig) if sig != 0.0 else 0.0
        if self.sig_num == 0.0:
            raise ValueError("check point on plane")

    def evaluate(self, x, y, z):
        return self.a * x + self.b * y + self.c * z + self.d

    def is_within(self, x, y, z):
        ev = self.evaluate(x, y, z)
        if abs(ev) < MINIMUM_RESOLUTION:
            return True
        return math.copysign(1.0, ev) == self.sig_num


def _cross_normalized(a, b):
    tx = a[1] * b[2] - a[2] * b[1]
    ty = a[2] * b[0] - a[0] * b[2]
    tz = a[0] * b[1] - a[1] * b[0]
    mag = math.sqrt(tx * tx + ty * ty + tz * tz)
    if abs(mag) < MINIMUM_RESOLUTION:
        raise ValueError("Degenerate/parallel vector constructed")
    inv = 1.0 / mag
    return (tx * inv, ty * inv, tz * inv)


class GeoStandardCircle:
    """GeoStandardCircle(PlanetModel.WGS84, lat, lon, cutoffAngle)."""

    def __init__(self, lat: float, lon: float, cutoff: float):
        if cutoff < MINIMUM_RESOLUTION:
            raise ValueError("Cutoff angle cannot be effectively zero")
        self.center = geo_point(lat, lon)
        upper_lat, upper_lon = lat + cutoff, lon
        if upper_lat > math.pi * 0.5:
            upper_lon += math.pi
            if upper_lon > math.pi:
                upper_lon -= 2.0 * math.pi
            upper_lat = math.pi - upper_lat
        lower_lat, lower_lon = lat - cutoff, lon
        if lower_lat < -math.pi * 0.5:
            lower_lon += math.pi
            if lower_lon > math.pi:
                lower_lon -= 2.0 * math.pi
            lower_lat = -math.pi - lower_lat
        upper = geo_point(upper_lat, upper_lon)
        lower = geo_point(lower_lat, lower_lon)
        if abs(cutoff - math.pi) < MINIMUM_RESOLUTION:
            self.circle_plane = None
            return
        # Plane.constructNormalizedZPlane(upper, lower, center): the
        # point with the greatest x^2+y^2 wins
        best, best_d = None, 0.0
        for p in (upper, lower, self.center):
            pd = p[0] * p[0] + p[1] * p[1]
            if pd > best_d:
                best_d = pd
                best = p
        if abs(best[0]) < MINIMUM_RESOLUTION and abs(best[1]) < MINIMUM_RESOLUTION:
            raise ValueError("degenerate z-plane")
        denom = 1.0 / math.sqrt(best[0] * best[0] + best[1] * best[1])
        normal_plane = (best[1] * denom, -best[0] * denom, 0.0)
        # SidedPlane.constructNormalizedPerpendicularSidedPlane
        pts = (upper[0] - lower[0], upper[1] - lower[1], upper[2] - lower[2])
        nn = _cross_normalized(normal_plane, pts)
        d = -(nn[0] * upper[0] + nn[1] * upper[1] + nn[2] * upper[2])
        self.circle_plane = _SidedPlane(nn, d, self.center)

    def is_within(self, x: float, y: float, z: float) -> bool:
        if self.circle_plane is None:
            return True
        return self.circle_plane.is_within(x, y, z)


def distance_query_matches(
    points_deg: list[tuple[float, float]],
    center_lat_deg: float,
    center_lon_deg: float,
    radius_meters: float,
) -> list[int]:
    """Geo3DPoint.newDistanceQuery accept set: each indexed point is the
    QUANTIZED (encode -> center decode) WGS84 (x, y, z); membership is
    the circle plane's sided evaluation."""
    shape = GeoStandardCircle(
        center_lat_deg * RADIANS_PER_DEGREE,
        center_lon_deg * RADIANS_PER_DEGREE,
        radius_meters * RADIANS_PER_METER,
    )
    out = []
    for i, (lat, lon) in enumerate(points_deg):
        x, y, z = geo_point(lat * RADIANS_PER_DEGREE,
                            lon * RADIANS_PER_DEGREE)
        qx = decode_value(encode_value(x))
        qy = decode_value(encode_value(y))
        qz = decode_value(encode_value(z))
        if shape.is_within(qx, qy, qz):
            out.append(i)
    return out


def circle_margin(
    point_deg: tuple[float, float],
    center_lat_deg: float,
    center_lon_deg: float,
    radius_meters: float,
) -> float:
    """|plane evaluation| of the quantized point — the boundary margin
    (used by the GT test to skip points within libm-ULP distance of the
    membership threshold, where Java Math and C libm may round apart)."""
    shape = GeoStandardCircle(
        center_lat_deg * RADIANS_PER_DEGREE,
        center_lon_deg * RADIANS_PER_DEGREE,
        radius_meters * RADIANS_PER_METER,
    )
    if shape.circle_plane is None:
        return math.inf
    lat, lon = point_deg
    x, y, z = geo_point(lat * RADIANS_PER_DEGREE, lon * RADIANS_PER_DEGREE)
    q = (decode_value(encode_value(x)), decode_value(encode_value(y)),
         decode_value(encode_value(z)))
    ev = shape.circle_plane.evaluate(*q)
    # flips happen at eval == 0 (sign) or |eval| == MINIMUM_RESOLUTION
    return min(abs(ev), abs(abs(ev) - MINIMUM_RESOLUTION))


def _magnitude_for_z(z: float) -> float:
    return 1.0 / math.sqrt((1.0 - z * z) * _INV_AB2 + z * z * _INV_C2)


class GeoRectangle:
    """geom/GeoRectangle.java (the GeoBBoxFactory path for a
    non-degenerate box with extent < PI): four SidedPlanes — two
    latitude z-planes (D = -sinLat * desired-magnitude-at-z) and two
    vertical longitude planes ((sinLon, -cosLon, 0), D = 0) — all sided
    by the middle point; membership = the conjunction."""

    def __init__(self, top_lat, bottom_lat, left_lon, right_lon):
        extent = right_lon - left_lon
        if extent < 0.0:
            extent += 2.0 * math.pi
        if extent > math.pi:
            raise ValueError("Width of rectangle too great")
        if top_lat < bottom_lat:
            raise ValueError("Top latitude less than bottom latitude")
        sin_top, sin_bottom = math.sin(top_lat), math.sin(bottom_lat)
        sin_left, cos_left = math.sin(left_lon), math.cos(left_lon)
        sin_right, cos_right = math.sin(right_lon), math.cos(right_lon)
        middle_lat = (top_lat + bottom_lat) * 0.5
        rl = right_lon
        while left_lon > rl:
            rl += math.pi * 2.0
        middle_lon = (left_lon + rl) * 0.5
        center = geo_point(middle_lat, middle_lon)
        self.planes = [
            # new SidedPlane(center, planetModel, sinTopLat)
            _SidedPlane((0.0, 0.0, 1.0),
                        -sin_top * _magnitude_for_z(sin_top), center),
            _SidedPlane((0.0, 0.0, 1.0),
                        -sin_bottom * _magnitude_for_z(sin_bottom), center),
            # new SidedPlane(center, cosLon, sinLon): Plane(y=sinLon,
            # x-coef... Plane(x, y) -> (y, -x, 0), D=0
            _SidedPlane((sin_left, -cos_left, 0.0), 0.0, center),
            _SidedPlane((sin_right, -cos_right, 0.0), 0.0, center),
        ]

    def is_within(self, x, y, z):
        return all(p.is_within(x, y, z) for p in self.planes)


def box_query_matches(
    points_deg: list[tuple[float, float]],
    min_lat_deg: float,
    max_lat_deg: float,
    min_lon_deg: float,
    max_lon_deg: float,
) -> list[int]:
    """Geo3DPoint.newBoxQuery accept set (non-degenerate, extent < PI
    boxes -> GeoRectangle)."""
    shape = GeoRectangle(
        max_lat_deg * RADIANS_PER_DEGREE,
        min_lat_deg * RADIANS_PER_DEGREE,
        min_lon_deg * RADIANS_PER_DEGREE,
        max_lon_deg * RADIANS_PER_DEGREE,
    )
    out = []
    for i, (lat, lon) in enumerate(points_deg):
        x, y, z = geo_point(lat * RADIANS_PER_DEGREE,
                            lon * RADIANS_PER_DEGREE)
        q = (decode_value(encode_value(x)), decode_value(encode_value(y)),
             decode_value(encode_value(z)))
        if shape.is_within(*q):
            out.append(i)
    return out


def box_margin(point_deg, min_lat_deg, max_lat_deg, min_lon_deg,
               max_lon_deg) -> float:
    shape = GeoRectangle(
        max_lat_deg * RADIANS_PER_DEGREE,
        min_lat_deg * RADIANS_PER_DEGREE,
        min_lon_deg * RADIANS_PER_DEGREE,
        max_lon_deg * RADIANS_PER_DEGREE,
    )
    lat, lon = point_deg
    x, y, z = geo_point(lat * RADIANS_PER_DEGREE, lon * RADIANS_PER_DEGREE)
    q = (decode_value(encode_value(x)), decode_value(encode_value(y)),
         decode_value(encode_value(z)))
    m = math.inf
    for p in shape.planes:
        ev = p.evaluate(*q)
        m = min(m, abs(ev), abs(abs(ev) - MINIMUM_RESOLUTION))
    return m


MINIMUM_RESOLUTION_SQUARED = MINIMUM_RESOLUTION * MINIMUM_RESOLUTION
MIN_MAGNITUDE = min(AB, C)  # PlanetModel.getMinimumMagnitude


def _sided_from_cross(inside, a, b):
    """SidedPlane(p, A, B): plane = normalized cross(A, B) through the
    origin (D = 0), sided by p."""
    return _SidedPlane(_cross_normalized(a, b), 0.0, inside)


def _three_point_sided_plane(inside, p1, p2, p3):
    """SidedPlane.constructNormalizedThreePointSidedPlane: plane through
    the three points (normal = cross of the difference vectors,
    D = -dot(normal, point2)), sided by `inside`; None on degeneracy."""
    try:
        d1 = (p1[0] - p2[0], p1[1] - p2[1], p1[2] - p2[2])
        d2 = (p2[0] - p3[0], p2[1] - p3[1], p2[2] - p3[2])
        n = _cross_normalized(d1, d2)
        d = -(n[0] * p2[0] + n[1] * p2[1] + n[2] * p2[2])
        return _SidedPlane(n, d, inside)
    except ValueError:
        return None


def _flip(sp: _SidedPlane) -> _SidedPlane:
    """SidedPlane copy ctor: same plane, sigNum NEGATED."""
    out = _SidedPlane.__new__(_SidedPlane)
    out.a, out.b, out.c, out.d = sp.a, sp.b, sp.c, sp.d
    out.sig_num = -sp.sig_num
    return out


def _find_intersections(pl, q, bounds, more_bounds):
    """Plane.findIntersections(planetModel, q, bounds, moreBounds):
    intersect the two planes' line with the WGS84 ellipsoid, keep points
    inside every bound."""
    lx = pl.b * q.c - pl.c * q.b
    ly = pl.c * q.a - pl.a * q.c
    lz = pl.a * q.b - pl.b * q.a
    if (abs(lx) < MINIMUM_RESOLUTION and abs(ly) < MINIMUM_RESOLUTION
            and abs(lz) < MINIMUM_RESOLUTION):
        return []
    denom_yz = pl.b * q.c - pl.c * q.b
    denom_xz = pl.a * q.c - pl.c * q.a
    denom_xy = pl.a * q.b - pl.b * q.a
    if abs(denom_yz) >= abs(denom_xz) and abs(denom_yz) >= abs(denom_xy):
        if abs(denom_yz) < MINIMUM_RESOLUTION_SQUARED:
            return []
        denom = 1.0 / denom_yz
        x0 = 0.0
        y0 = (-pl.d * q.c - pl.c * -q.d) * denom
        z0 = (pl.b * -q.d + pl.d * q.b) * denom
    elif abs(denom_xz) >= abs(denom_xy) and abs(denom_xz) >= abs(denom_yz):
        if abs(denom_xz) < MINIMUM_RESOLUTION_SQUARED:
            return []
        denom = 1.0 / denom_xz
        x0 = (-pl.d * q.c - pl.c * -q.d) * denom
        y0 = 0.0
        z0 = (pl.a * -q.d + pl.d * q.a) * denom
    else:
        if abs(denom_xy) < MINIMUM_RESOLUTION_SQUARED:
            return []
        denom = 1.0 / denom_xy
        x0 = (-pl.d * q.b - pl.b * -q.d) * denom
        y0 = (pl.a * -q.d + pl.d * q.a) * denom
        z0 = 0.0
    qa = (lx * lx * _INV_AB2 + ly * ly * _INV_AB2 + lz * lz * _INV_C2)
    qb = 2.0 * (lx * x0 * _INV_AB2 + ly * y0 * _INV_AB2 + lz * z0 * _INV_C2)
    qc = (x0 * x0 * _INV_AB2 + y0 * y0 * _INV_AB2 + z0 * z0 * _INV_C2 - 1.0)
    disc = qb * qb - 4.0 * qa * qc

    def ok(p):
        return all(b.is_within(*p) for b in bounds) and all(
            b.is_within(*p) for b in more_bounds)

    if abs(disc) < MINIMUM_RESOLUTION_SQUARED:
        t = -qb / (2.0 * qa)
        p = (lx * t + x0, ly * t + y0, lz * t + z0)
        return [p] if ok(p) else []
    if disc > 0.0:
        inv2a = 1.0 / (2.0 * qa)
        sq = math.sqrt(disc)
        t1 = (-qb + sq) * inv2a
        t2 = (-qb - sq) * inv2a
        p1 = (lx * t1 + x0, ly * t1 + y0, lz * t1 + z0)
        p2 = (lx * t2 + x0, ly * t2 + y0, lz * t2 + z0)
        out = []
        if ok(p1):
            out.append(p1)
        if ok(p2):
            out.append(p2)
        return out
    return []


class _PathSegment:
    def __init__(self, start, end, ncp, offset):
        self.start, self.end = start, end
        self.upper = _SidedPlane(ncp, -offset, start)
        self.lower = _SidedPlane(ncp, offset, start)
        ncp_pl = _SidedPlane.__new__(_SidedPlane)
        ncp_pl.a, ncp_pl.b, ncp_pl.c, ncp_pl.d = ncp[0], ncp[1], ncp[2], 0.0
        self.start_cut = _sided_from_cross(end, ncp, start)
        self.end_cut = _sided_from_cross(start, ncp, end)
        # Parity note: this fork (GeoStandardPath.java:642-660) checks
        # only points.length == 0 ("path too wide") and takes points[0]
        # unconditionally; the later-Lucene "Ambiguous boundary points;
        # path too short" raise for >1 intersections does not exist
        # here, so we deliberately keep the fork's behavior.
        pts = _find_intersections(
            self.upper, self.start_cut, [self.lower], [self.end_cut])
        if not pts:
            raise ValueError("path too wide")
        self.ULHC = pts[0]
        pts = _find_intersections(
            self.upper, self.end_cut, [self.lower], [self.start_cut])
        if not pts:
            raise ValueError("path too wide")
        self.URHC = pts[0]
        pts = _find_intersections(
            self.lower, self.start_cut, [self.upper], [self.end_cut])
        if not pts:
            raise ValueError("path too wide")
        self.LLHC = pts[0]
        pts = _find_intersections(
            self.lower, self.end_cut, [self.upper], [self.start_cut])
        if not pts:
            raise ValueError("path too wide")
        self.LRHC = pts[0]

    def is_within(self, x, y, z):
        return (self.start_cut.is_within(x, y, z)
                and self.end_cut.is_within(x, y, z)
                and self.upper.is_within(x, y, z)
                and self.lower.is_within(x, y, z))


class _SegmentEndpoint:
    def __init__(self, circle_plane, cutoffs):
        self.circle_plane = circle_plane
        self.cutoffs = cutoffs

    def is_within(self, x, y, z):
        if self.circle_plane is None:
            return False
        if not self.circle_plane.is_within(x, y, z):
            return False
        return all(m.is_within(x, y, z) for m in self.cutoffs)


def _perpendicular_sided(inside, normal_vec, p1, p2):
    """SidedPlane.constructNormalizedPerpendicularSidedPlane."""
    pts = (p1[0] - p2[0], p1[1] - p2[1], p1[2] - p2[2])
    try:
        nn = _cross_normalized(normal_vec, pts)
    except ValueError:
        return None
    d = -(nn[0] * p1[0] + nn[1] * p1[1] + nn[2] * p1[2])
    try:
        return _SidedPlane(nn, d, inside)
    except ValueError:
        return None


class GeoStandardPath:
    """geom/GeoStandardPath.java membership (Geo3DPoint.newPathQuery):
    per-segment four-plane corridors plus endpoint circle caps — the
    middle endpoints using the reference's four-candidate
    three-point-plane selection (pick the candidate containing the
    fourth corner; drop the prev/next cutoff accordingly; flipped-side
    cutoff copies)."""

    def __init__(self, points_latlon_rad, cutoff):
        if cutoff <= 0.0 or cutoff > math.pi * 0.5:
            raise ValueError("Cutoff angle out of bounds")
        sin_angle = math.sin(cutoff)
        pts = [geo_point(la, lo) for la, lo in points_latlon_rad]
        offset = sin_angle * MIN_MAGNITUDE
        self.segments = []
        last = None
        for end in pts:
            if last is not None:
                ncp = _cross_normalized(last, end)
                self.segments.append(_PathSegment(last, end, ncp, offset))
            last = end
        self.end_points = []
        #: which SegmentEndpoint branch each middle joint took —
        #: 'all4' / 'c1' / 'c2' / 'c3' / 'c4' / 'coplanar'; lets tests
        #: prove sharp-bend paths discriminate the four candidates.
        self.endpoint_branches = []
        if not self.segments:
            lat, lon = points_latlon_rad[0]
            upper_lat, upper_lon = lat + cutoff, lon
            if upper_lat > math.pi * 0.5:
                upper_lon += math.pi
                if upper_lon > math.pi:
                    upper_lon -= 2.0 * math.pi
                upper_lat = math.pi - upper_lat
            lower_lat, lower_lon = lat - cutoff, lon
            if lower_lat < -math.pi * 0.5:
                lower_lon += math.pi
                if lower_lon > math.pi:
                    lower_lon -= 2.0 * math.pi
                lower_lat = -math.pi - lower_lat
            upper = geo_point(upper_lat, upper_lon)
            lower = geo_point(lower_lat, lower_lon)
            point = pts[0]
            best, best_d = None, 0.0
            for p in (upper, lower, point):
                pd = p[0] * p[0] + p[1] * p[1]
                if pd > best_d:
                    best_d, best = pd, p
            denom = 1.0 / math.sqrt(best[0] * best[0] + best[1] * best[1])
            normal_plane = (best[1] * denom, -best[0] * denom, 0.0)
            cp = _perpendicular_sided(point, normal_plane, upper, lower)
            self.end_points.append(_SegmentEndpoint(cp, []))
            return
        for i, seg in enumerate(self.segments):
            if i == 0:
                cp = _perpendicular_sided(
                    seg.start, (seg.start_cut.a, seg.start_cut.b,
                                seg.start_cut.c), seg.ULHC, seg.LLHC)
                self.end_points.append(
                    _SegmentEndpoint(cp, [_flip(seg.start_cut)]))
                continue
            prev = self.segments[i - 1]
            cand1 = _three_point_sided_plane(
                seg.start, prev.URHC, seg.ULHC, seg.LLHC)
            cand2 = _three_point_sided_plane(
                seg.start, seg.ULHC, seg.LLHC, prev.LRHC)
            cand3 = _three_point_sided_plane(
                seg.start, seg.LLHC, prev.LRHC, prev.URHC)
            cand4 = _three_point_sided_plane(
                seg.start, prev.LRHC, prev.URHC, seg.ULHC)
            if (cand1 is None and cand2 is None and cand3 is None
                    and cand4 is None):
                cp = _perpendicular_sided(
                    seg.start, (prev.end_cut.a, prev.end_cut.b,
                                prev.end_cut.c), seg.ULHC, seg.LLHC)
                self.end_points.append(_SegmentEndpoint(
                    cp, [_flip(prev.end_cut), _flip(seg.start_cut)]))
                self.endpoint_branches.append("coplanar")
            else:
                # Check points follow the reference call site
                # (GeoStandardPath.java:182-186): notCand1Point =
                # prevSegment.LRHC, notCand2Point = prevSegment.URHC,
                # notCand3Point = currentSegment.ULHC, notCand4Point =
                # currentSegment.LLHC.  cand1 passes through URHC/ULHC/
                # LLHC so its discriminating fourth corner is prev.LRHC
                # (the one point NOT on it) — testing a point ON the
                # plane is trivially true within the slop.
                c1w = cand1.is_within(*prev.LRHC) if cand1 else False
                c2w = cand2.is_within(*prev.URHC) if cand2 else False
                c3w = cand3.is_within(*seg.ULHC) if cand3 else False
                c4w = cand4.is_within(*seg.LLHC) if cand4 else False
                if c1w and c2w and c3w and c4w:
                    self.end_points.append(_SegmentEndpoint(
                        cand1,
                        [_flip(prev.end_cut), _flip(seg.start_cut)]))
                    self.endpoint_branches.append("all4")
                elif c1w:
                    self.end_points.append(_SegmentEndpoint(
                        cand1, [_flip(seg.start_cut)]))
                    self.endpoint_branches.append("c1")
                elif c2w:
                    self.end_points.append(_SegmentEndpoint(
                        cand2, [_flip(seg.start_cut)]))
                    self.endpoint_branches.append("c2")
                elif c3w:
                    self.end_points.append(_SegmentEndpoint(
                        cand3, [_flip(prev.end_cut)]))
                    self.endpoint_branches.append("c3")
                elif c4w:
                    self.end_points.append(_SegmentEndpoint(
                        cand4, [_flip(prev.end_cut)]))
                    self.endpoint_branches.append("c4")
                else:
                    raise RuntimeError(
                        "Couldn't come up with a plane through three "
                        "points that included the fourth")
        last_seg = self.segments[-1]
        cp = _perpendicular_sided(
            last_seg.end, (last_seg.end_cut.a, last_seg.end_cut.b,
                           last_seg.end_cut.c), last_seg.URHC,
            last_seg.LRHC)
        self.end_points.append(
            _SegmentEndpoint(cp, [_flip(last_seg.end_cut)]))

    def is_within(self, x, y, z):
        return any(e.is_within(x, y, z) for e in self.end_points) or any(
            s.is_within(x, y, z) for s in self.segments)


def _winding(pole_lat, pole_lon, pts):
    """GeoPolygonFactory.isInsidePolygon's signed arc distance of the
    ring as seen from a pole (computeAngle rotation + wrapped angle
    deltas); > 0 means the pole is INSIDE the described shape
    (GeoPolygonFactory.java: 'Clockwise == inside == negative')."""
    sin_lat, cos_lat = math.sin(pole_lat), math.cos(pole_lat)
    sin_lon, cos_lon = math.sin(pole_lon), math.cos(pole_lon)

    def angle(p):
        x1 = p[0] * cos_lon + p[1] * sin_lon
        y1 = -p[0] * sin_lon + p[1] * cos_lon
        z1 = p[2]
        y2 = y1
        z2 = -x1 * sin_lat + z1 * cos_lat
        if math.sqrt(y2 * y2 + z2 * z2) < MINIMUM_RESOLUTION:
            return None
        return math.atan2(z2, y2)

    arc = 0.0
    prev = None
    for p in list(pts) + [pts[0]]:
        a = angle(p)
        if a is None:
            return None
        if prev is not None:
            d = a - prev
            if d < -math.pi:
                d += 2.0 * math.pi
            if d > math.pi:
                d -= 2.0 * math.pi
            if abs(d - math.pi) < MINIMUM_RESOLUTION:
                return None
            arc += d
        prev = a
    if abs(arc) < MINIMUM_RESOLUTION:
        return None
    return arc > 0.0


class GeoConvexPolygonMembership:
    """Geo3DPoint.newPolygonQuery membership for a truly convex ring,
    either orientation. Edge i = SidedPlane(check, points[i],
    points[i+1]) with check = the next vertex NOT on the edge plane
    (GeoConvexPolygon.java:180-204). The ring's winding around an
    interior point of the small cap decides which side the factory
    describes (GeoPolygonFactory.isInsidePolygon): winding > 0 → the
    small cap itself (GeoConvexPolygon: within ALL edges); winding < 0
    → its complement (GeoConcavePolygon over the flipped planes:
    within ANY flipped edge, GeoConcavePolygon.java:300-310). Pinned
    docid-exact vs the compiled binary in the GT round-86 test."""

    def __init__(self, pts):
        n = len(pts)
        self.edges = []
        for i in range(n):
            start, end = pts[i], pts[(i + 1) % n]
            normal = _cross_normalized(start, end)
            check = None
            for j in range(n):
                p = pts[(j + i + 2) % n]
                ev = (normal[0] * p[0] + normal[1] * p[1]
                      + normal[2] * p[2])
                if abs(ev) >= MINIMUM_RESOLUTION:
                    check = p
                    break
            if check is None:
                raise ValueError("Polygon points are all coplanar")
            self.edges.append(_sided_from_cross(check, start, end))
        cx = sum(p[0] for p in pts) / n
        cy = sum(p[1] for p in pts) / n
        cz = sum(p[2] for p in pts) / n
        pole_lat = math.atan2(cz, math.hypot(cx, cy))
        pole_lon = math.atan2(cy, cx)
        inside = _winding(pole_lat, pole_lon, pts)
        if inside is None:
            raise ValueError("cannot determine ring orientation")
        # negative winding (clockwise) around the interior pole = the
        # pole is in-set = the small cap is the shape
        self.convex = not inside
        if not self.convex:
            self.edges = [_flip(e) for e in self.edges]

    def is_within(self, x, y, z):
        if self.convex:
            return all(e.is_within(x, y, z) for e in self.edges)
        return any(e.is_within(x, y, z) for e in self.edges)

    def margin(self, x, y, z):
        return min(abs(e.evaluate(x, y, z)) for e in self.edges)


def polygon_query_matches(points_deg, polys_deg):
    """Geo3DPoint.newPolygonQuery accept set over quantized points —
    convex rings, composite = OR over rings
    (GeoCompositePolygon.java:277-286)."""
    shapes = [
        GeoConvexPolygonMembership(
            [geo_point(la * RADIANS_PER_DEGREE, lo * RADIANS_PER_DEGREE)
             for la, lo in ring])
        for ring in polys_deg
    ]
    out = []
    for i, (lat, lon) in enumerate(points_deg):
        x, y, z = geo_point(lat * RADIANS_PER_DEGREE,
                            lon * RADIANS_PER_DEGREE)
        q = (decode_value(encode_value(x)), decode_value(encode_value(y)),
             decode_value(encode_value(z)))
        if any(s.is_within(*q) for s in shapes):
            out.append(i)
    return out


def polygon_margin(point_deg, polys_deg):
    """Min |plane evaluation| across every edge of every ring at the
    quantized point — flip-threshold distance for test comparability."""
    lat, lon = point_deg
    x, y, z = geo_point(lat * RADIANS_PER_DEGREE, lon * RADIANS_PER_DEGREE)
    q = (decode_value(encode_value(x)), decode_value(encode_value(y)),
         decode_value(encode_value(z)))
    m = float("inf")
    for ring in polys_deg:
        shape = GeoConvexPolygonMembership(
            [geo_point(la * RADIANS_PER_DEGREE, lo * RADIANS_PER_DEGREE)
             for la, lo in ring])
        m = min(m, shape.margin(*q))
    return m


def path_query_matches(points_deg, path_deg, width_meters):
    """Geo3DPoint.newPathQuery accept set over quantized points."""
    shape = GeoStandardPath(
        [(la * RADIANS_PER_DEGREE, lo * RADIANS_PER_DEGREE)
         for la, lo in path_deg],
        width_meters * RADIANS_PER_METER,
    )
    out = []
    for i, (lat, lon) in enumerate(points_deg):
        x, y, z = geo_point(lat * RADIANS_PER_DEGREE,
                            lon * RADIANS_PER_DEGREE)
        q = (decode_value(encode_value(x)), decode_value(encode_value(y)),
             decode_value(encode_value(z)))
        if shape.is_within(*q):
            out.append(i)
    return out


def path_margin(point_deg, path_deg, width_meters) -> float:
    shape = GeoStandardPath(
        [(la * RADIANS_PER_DEGREE, lo * RADIANS_PER_DEGREE)
         for la, lo in path_deg],
        width_meters * RADIANS_PER_METER,
    )
    lat, lon = point_deg
    x, y, z = geo_point(lat * RADIANS_PER_DEGREE, lon * RADIANS_PER_DEGREE)
    q = (decode_value(encode_value(x)), decode_value(encode_value(y)),
         decode_value(encode_value(z)))
    m = math.inf
    planes = []
    for e in shape.end_points:
        if e.circle_plane is not None:
            planes.append(e.circle_plane)
        planes.extend(e.cutoffs)
    for s in shape.segments:
        planes.extend([s.upper, s.lower, s.start_cut, s.end_cut])
    for p in planes:
        ev = p.evaluate(*q)
        m = min(m, abs(ev), abs(abs(ev) - MINIMUM_RESOLUTION))
    return m
