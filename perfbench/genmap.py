"""Seeded MapsForge map generator for the benchmark workloads.

Every map is written through the package's public encoder
``map2db_spark.sources.fixture.MapWriter``.  The same (workload, seed)
always gives the same bytes; the seed changes geometry, tags and the
per-tile feature mix, never the shape of the workload.

Each map also carries, by construction, the per-table row counts a
correct conversion must produce and its input size (tiles, encoded
feature sightings, coordinates, bytes).  Every feature is placed so
that it survives decode:

- points sit strictly inside their tile;
- tile-local ways stay inside their tile, so the clip keeps them whole;
- cross-tile ways (``dbl_crosstile_sqlite`` only) start strictly inside
  one tile, so at least that fragment survives, and are encoded into
  every tile their bounding box touches, as a tiler would;
- no coordinate of a cross-tile way lies within a few microdegrees of
  a tile edge, so no clip produces a zero-length fragment.

Way lengths follow a long-tailed mix (2 to 300 nodes, one way in 25
with 200+), and a third of the ways are double-delta encoded, so a
decode change is not tuned to short ways.
"""

from __future__ import annotations

import hashlib
import math
import random
from dataclasses import dataclass

from map2db_spark.sources.fixture import Half, MapWriter, Poi, Way
from map2db_spark.sources.tilemath import lat_from_y, lon_from_x

LICENSE = "ODbL v1.0 benchmark map license statement"

# z10 tile grid origin: x/y multiples of 4, so the z8 subfile's tiles
# cover exactly 4x4 z10 tiles each.
X0, Y0 = 516, 404
HI, LO = 10, 8

POI_TAGS = ("amenity=cafe", "amenity=school", "shop=bakery", "tourism=hotel",
            "place=village", "natural=peak", "historic=ruins", "leisure=park")
LINE_TAGS = ("highway=residential", "highway=primary", "highway=track",
             "waterway=stream", "railway=rail", "power=line", "barrier=fence")
AREA_TAGS = ("landuse=forest", "landuse=farmland", "building=yes",
             "natural=water", "leisure=pitch", "landuse=residential")
STREET_NAMES = ("Main", "Oak", "Mill", "River", "Station", "Church", "Hill")


@dataclass(frozen=True)
class Spec:
    """Shape of one workload's map.  ``side`` is the z10 grid edge in
    tiles, ``empty_share`` the share of z10 tiles left empty (sea); the
    per-tile counts are upper bounds of uniform draws."""

    dbl: bool
    subfiles: tuple  # ((level, minzoom, maxzoom), ...), ascending level
    sink: str
    side: int
    pois: int
    lines: int
    areas: int
    cross_lines: int = 0
    cross_areas: int = 0
    multilevel_share: float = 0.0
    empty_share: float = 0.1


WORKLOADS = {
    # generic map without ids: every sighting is its own output row
    "nondbl_parquet": Spec(
        dbl=False, subfiles=((LO, 6, 9), (HI, 10, 13)), sink="parquet",
        side=100, pois=4, lines=3, areas=2, empty_share=0.82,
    ),
    # dbl map: cross-tile ways, multi-level duplicates, multi-part lines
    "dbl_crosstile_sqlite": Spec(
        dbl=True, subfiles=((LO, 6, 9), (HI, 10, 13)), sink="sqlite",
        side=100, pois=3, lines=1, areas=1, cross_lines=2, cross_areas=1,
        multilevel_share=0.3, empty_share=0.87,
    ),
    # dbl map where every feature lies in one tile at one level
    "dbl_tiled_parquet": Spec(
        dbl=True, subfiles=((HI, 9, 13),), sink="parquet",
        side=100, pois=4, lines=3, areas=2, empty_share=0.75,
    ),
}


def _md_bounds(level: int, x: int, y: int) -> tuple[int, int, int, int]:
    """(minlon, minlat, maxlon, maxlat) of a tile in integer microdegrees."""
    return (
        round(lon_from_x(level, x) * 1e6),
        round(lat_from_y(level, y + 1) * 1e6),
        round(lon_from_x(level, x + 1) * 1e6),
        round(lat_from_y(level, y) * 1e6),
    )


def _deg(pt: tuple[int, int]) -> tuple[float, float]:
    return (pt[0] / 1e6, pt[1] / 1e6)


class _Builder:
    def __init__(self, spec: Spec, rng: random.Random, scale_side: int | None):
        self.spec = spec
        self.rng = rng
        self.side = scale_side or spec.side
        n = self.side
        west, _, _, north = _md_bounds(HI, X0, Y0)
        _, south, east, _ = _md_bounds(HI, X0 + n - 1, Y0 + n - 1)
        inset = 100
        bbox = ((south + inset) / 1e6, (west + inset) / 1e6,
                (north - inset) / 1e6, (east - inset) / 1e6)
        self.writer = MapWriter(
            bbox, list(spec.subfiles),
            dbl_license=LICENSE if spec.dbl else None,
            comment="generated benchmark map",
            createdby="perfbench genmap",
        )
        self.sf_of_level = {lv: i for i, (lv, _, _) in enumerate(spec.subfiles)}
        # tile edges in microdegrees (z8 edges are a subset of the z10 ones)
        self.xs = [round(lon_from_x(HI, X0 + i) * 1e6) for i in range(n + 1)]
        self.ys = sorted(round(lat_from_y(HI, Y0 + i) * 1e6) for i in range(n + 1))
        self.next_id = {"point": 0, "line": 0, "area": 0}
        self.expected = {"points": 0, "lines": 0, "areas": 0}
        self.sightings = 0
        self.coords = 0
        self.multi_part_lines = 0
        self.long_ways = 0

    # -- geometry --------------------------------------------------------

    def _nodes(self) -> int:
        r = self.rng.random()
        if r < 0.6:
            return self.rng.randint(2, 8)
        if r < 0.96:
            return self.rng.randint(9, 40)
        return self.rng.randint(200, 300)

    def _walk(self, box, n: int, step: int, start=None) -> list[tuple[int, int]]:
        """Random walk of n distinct-step nodes reflected into box."""
        x0, y0, x1, y1 = box
        rng = self.rng
        x, y = start or (rng.randint(x0, x1), rng.randint(y0, y1))
        pts = [(x, y)]
        for _ in range(n - 1):
            while True:
                dx = rng.randint(-step, step)
                dy = rng.randint(-step, step)
                if max(abs(dx), abs(dy)) >= 50:
                    break
            nx, ny = x + dx, y + dy
            if not x0 <= nx <= x1:
                nx = x - dx
            if not y0 <= ny <= y1:
                ny = y - dy
            x, y = nx, ny
            pts.append((x, y))
        return pts

    def _star(self, cx: int, cy: int, radius: int, n: int) -> list[tuple[int, int]]:
        """Closed star-shaped ring: strictly increasing angles around the
        centre, so the ring is simple at any radius draw."""
        rng = self.rng
        ring = []
        for i in range(n):
            a = 2 * math.pi * (i + rng.uniform(0.1, 0.9)) / n
            r = radius * rng.uniform(0.5, 1.0)
            ring.append((cx + round(r * math.cos(a)), cy + round(r * math.sin(a))))
        return ring + [ring[0]]

    def _off_edges(self, pts):
        """Move coordinates that lie within 3 µdeg of a tile edge."""
        def nudge(v, edges):
            for e in edges:
                if abs(v - e) <= 3:
                    return e + 7 if v >= e else e - 7
            return v
        return [(nudge(x, self.xs), nudge(y, self.ys)) for x, y in pts]

    def _tiles_touched(self, level: int, pts) -> list[tuple[int, int]]:
        """Tiles of ``level`` overlapped by the bounding box of pts."""
        shift = HI - level
        lo_x = min(p[0] for p in pts)
        hi_x = max(p[0] for p in pts)
        lo_y = min(p[1] for p in pts)
        hi_y = max(p[1] for p in pts)
        tx = [X0 + i for i in range(self.side) if self.xs[i] <= hi_x and self.xs[i + 1] >= lo_x]
        # ys ascend in latitude, tile y descends with latitude
        ty = [Y0 + self.side - 1 - i for i in range(self.side)
              if self.ys[i] <= hi_y and self.ys[i + 1] >= lo_y]
        return sorted({(x >> shift, y >> shift) for x in tx for y in ty})

    # -- attributes -------------------------------------------------------

    def _attrs(self, kind: str) -> dict:
        rng = self.rng
        vocab = {"point": POI_TAGS, "line": LINE_TAGS, "area": AREA_TAGS}[kind]
        tags = tuple(sorted(rng.sample(vocab, rng.randint(1, 3))))
        vtags: dict = {}
        if rng.random() < 0.3:
            vtags["population"] = rng.randint(0, 100_000)
        if rng.random() < 0.2:
            vtags["width"] = float(rng.randint(1, 400)) / 8
        if rng.random() < 0.15:
            vtags["ele"] = Half(rng.randint(-300, 3000))
        if rng.random() < 0.1:
            vtags["note"] = f"n{rng.randint(0, 999)}"
        attrs = {"tags": tags, "vtags": vtags, "layer": rng.choice((0, 0, 0, 1, -1))}
        if rng.random() < 0.4:
            attrs["name"] = f"{rng.choice(STREET_NAMES)} {rng.randint(1, 99)}"
        return attrs

    def _fid(self, kind: str) -> int | None:
        if not self.spec.dbl:
            return None
        fid = self.next_id[kind]
        self.next_id[kind] += 1
        return fid

    # -- placement ----------------------------------------------------------

    def _zoom(self, level: int) -> int:
        _, minz, maxz = self.spec.subfiles[self.sf_of_level[level]]
        return self.rng.randint(minz, maxz)

    def _place(self, kind: str, level: int, tiles, build, lo_tiles) -> None:
        """Encode one feature into every tile in ``tiles`` at ``level``,
        plus into ``lo_tiles`` of the z8 subfile.  Sightings share
        attributes; a multi-level feature's high-level zoom is the low
        subfile's maxzoom + 1, so its zoom range stays continuous."""
        self.expected[kind + "s"] += 1
        fid = self._fid(kind)
        zoom = self.spec.subfiles[-1][1] if lo_tiles else self._zoom(level)
        placements = [(level, t, zoom) for t in tiles]
        if lo_tiles:
            lo_zoom = self._zoom(LO)
            placements += [(LO, t, lo_zoom) for t in lo_tiles]
        for lv, (tx, ty), z in placements:
            sf = self.sf_of_level[lv]
            if kind == "point":
                self.writer.add_poi(sf, tx, ty, build(z, fid))
            else:
                self.writer.add_way(sf, tx, ty, build(z, fid))
            self.sightings += 1

    def _poi(self, level, tx, ty, box, multilevel=False):
        x = self.rng.randint(box[0], box[2])
        y = self.rng.randint(box[1], box[3])
        a = self._attrs("point")
        lo = [(tx >> (HI - LO), ty >> (HI - LO))] if multilevel else []

        def build(zoom, fid):
            return Poi(lat=y / 1e6, lon=x / 1e6, zoom=zoom, layer=a["layer"],
                       tags=a["tags"], vtags=a["vtags"], name=a.get("name"),
                       pnum=fid)

        self.coords += 1
        self._place("point", level, [(tx, ty)], build, lo)

    def _way(self, kind, level, tiles, blocks, multilevel=False):
        a = self._attrs(kind)
        dd = self.rng.random() < 1 / 3
        pts = [p for db in blocks for cb in db for p in cb]
        lo = self._tiles_touched(LO, pts) if multilevel else []
        deg_blocks = [[[_deg(p) for p in cb] for cb in db] for db in blocks]
        self.coords += len(pts)
        if len(pts) >= 200:
            self.long_ways += 1

        def build(zoom, fid):
            return Way(blocks=deg_blocks, zoom=zoom, layer=a["layer"],
                       tags=a["tags"], vtags=a["vtags"], name=a.get("name"),
                       double_delta=dd,
                       lnum=fid if kind == "line" else None,
                       anum=fid if kind == "area" else None)

        self._place(kind, level, tiles, build, lo)

    def _line_blocks(self, box) -> list:
        """dbl lines are often multi-part: consecutive parts share an
        endpoint (line merge stitches them), some add a stray part."""
        n = self._nodes()
        step = 1500 if n > 60 else 6000
        if not self.spec.dbl or self.rng.random() < 0.6:
            return [[self._walk(box, n, step)]]
        self.multi_part_lines += 1
        parts = [self._walk(box, max(2, n // 2), step)]
        parts.append(self._walk(box, max(2, n - n // 2), step, start=parts[0][-1]))
        if self.rng.random() < 0.3:
            parts.append(self._walk(box, 3, step))
        return [[p] for p in parts]

    def _area_blocks(self, box) -> list:
        rng = self.rng
        if rng.random() < 0.03:
            # bowtie: self-crossing ring that validity repair splits
            d = rng.randint(2000, 8000)
            cx = rng.randint(box[0], box[2] - d)
            cy = rng.randint(box[1], box[3] - d)
            return [[[(cx, cy), (cx + d, cy + d), (cx + d, cy), (cx, cy + d), (cx, cy)]]]
        radius = rng.randint(3000, 20000)
        cx = rng.randint(box[0] + radius, box[2] - radius)
        cy = rng.randint(box[1] + radius, box[3] - radius)
        n = max(4, self._nodes())
        shell = self._star(cx, cy, radius, n)
        if n >= 12 and rng.random() < 0.2:
            # every shell edge stays > 0.44 R from the centre at n >= 12
            return [[shell, self._star(cx, cy, radius * 3 // 10, rng.randint(4, 12))]]
        return [[shell]]

    def _cross_line(self, box):
        n = self.rng.randint(2, 30)
        pts = self._off_edges(self._walk(self._grid_box(), n, 20000,
                                         start=(self.rng.randint(box[0], box[2]),
                                                self.rng.randint(box[1], box[3]))))
        return [[pts]]

    def _cross_area(self, box):
        """Convex ring around a point of this tile, large enough to reach
        into the neighbours."""
        rng = self.rng
        gx0, gy0, gx1, gy1 = self._grid_box()
        r = rng.randint(20000, 60000)
        cx = min(max(rng.randint(box[0], box[2]), gx0 + r), gx1 - r)
        cy = min(max(rng.randint(box[1], box[3]), gy0 + r), gy1 - r)
        n = rng.randint(8, 60)
        ring = [(cx + round(r * math.cos(2 * math.pi * i / n)),
                 cy + round(0.7 * r * math.sin(2 * math.pi * i / n))) for i in range(n)]
        ring = self._off_edges(ring)
        return [[ring + [ring[0]]]]

    def _grid_box(self):
        m = 1000
        return (self.xs[0] + m, self.ys[0] + m, self.xs[-1] - m, self.ys[-1] - m)

    # -- driver ------------------------------------------------------------------

    def build(self) -> None:
        spec, rng = self.spec, self.rng
        hi_tiles = [(X0 + i, Y0 + j) for j in range(self.side) for i in range(self.side)]
        # a fixed number of land tiles, so the map size varies little by seed
        land = rng.sample(range(len(hi_tiles)), round(len(hi_tiles) * (1 - spec.empty_share)))
        for tx, ty in (hi_tiles[k] for k in sorted(land)):
            tb = _md_bounds(HI, tx, ty)
            m = (tb[2] - tb[0]) // 20
            box = (tb[0] + m, tb[1] + m, tb[2] - m, tb[3] - m)
            ml = spec.multilevel_share

            for _ in range(rng.randint(0, spec.pois)):
                self._poi(HI, tx, ty, box, multilevel=rng.random() < ml)
            for _ in range(rng.randint(0, spec.lines)):
                self._way("line", HI, [(tx, ty)], self._line_blocks(box),
                          multilevel=rng.random() < ml)
            for _ in range(rng.randint(0, spec.areas)):
                self._way("area", HI, [(tx, ty)], self._area_blocks(box),
                          multilevel=rng.random() < ml)
            for _ in range(rng.randint(0, spec.cross_lines)):
                blocks = self._cross_line(box)
                self._way("line", HI, self._tiles_touched(HI, blocks[0][0]), blocks,
                          multilevel=rng.random() < ml)
            for _ in range(rng.randint(0, spec.cross_areas)):
                blocks = self._cross_area(box)
                self._way("area", HI, self._tiles_touched(HI, blocks[0][0]), blocks,
                          multilevel=rng.random() < ml)

        if not spec.dbl and LO in self.sf_of_level:
            # non-dbl maps carry their own low-zoom content per z8 tile
            lo_side = self.side // 4
            for j in range(lo_side):
                for i in range(lo_side):
                    tx, ty = (X0 >> 2) + i, (Y0 >> 2) + j
                    tb = _md_bounds(LO, tx, ty)
                    m = (tb[2] - tb[0]) // 20
                    box = (tb[0] + m, tb[1] + m, tb[2] - m, tb[3] - m)
                    for _ in range(rng.randint(0, 3)):
                        self._poi(LO, tx, ty, box)
                    for _ in range(rng.randint(0, 3)):
                        self._way("line", LO, [(tx, ty)], self._line_blocks(box))
                    for _ in range(rng.randint(0, 2)):
                        self._way("area", LO, [(tx, ty)], self._area_blocks(box))


def generate(workload: str, seed: int, path: str, side: int | None = None) -> dict:
    """Write the (workload, seed) map to ``path``; return its metadata:
    the expected per-table row counts and the input size."""
    spec = WORKLOADS[workload]
    b = _Builder(spec, random.Random(f"{workload}:{seed}"), side)
    b.build()
    data = b.writer.tobytes()
    with open(path, "wb") as f:
        f.write(data)
    tiles = 0
    for lv, _, _ in spec.subfiles:
        per_side = b.side >> (HI - lv)
        tiles += per_side * per_side
    return {
        "workload": workload,
        "seed": seed,
        "sink": spec.sink,
        "dbl": spec.dbl,
        "expected_counts": dict(b.expected),
        "tiles": tiles,
        "features": sum(b.expected.values()),
        "sightings": b.sightings,
        "coords": b.coords,
        "long_ways": b.long_ways,
        "multi_part_lines": b.multi_part_lines,
        "map_bytes": len(data),
        "map_sha256": hashlib.sha256(data).hexdigest(),
    }
