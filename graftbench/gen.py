"""Seeded input generator for the graft benchmark.

Every table is a pure function of (seed, scale): the same seed gives
byte-identical inputs, and the row counts depend on the scale only, so
two seeds differ in values but never in size.

Two input sets:
  star(dir, seed, sf)     the star schema the queries and the default
                          changegen CLI read (region nation customer
                          supplier part orders lineitem events documents
                          embeddings), with the row counts and value
                          ranges of the repository's sf testdata
  extract(dir, seed, k)   an .osm.pbf road grid plus the WKB feature
                          tables the changegen CLI discovers by suffix
                          (lines incl. MultiLineStrings, holed polygons,
                          points), an --existing table over a third of
                          the grid's ways and a --deletions table
"""
import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# rows per unit of scale factor (the sf0.1 testdata has a tenth of these)
PER_SF = dict(customer=150_000, supplier=10_000, part=200_000, orders=1_500_000,
              lineitem=6_000_000, events=1_000_000, documents=50_000,
              embeddings=20_000, users=15_000)

WORDS = ("a the batch part spark line column order small sort fast value scan "
         "hash slow group agg filter query big key window row table stream merge "
         "data vector customer join").split()
COLORS = "blue red hot large small new green cold old dark smooth tiny pale".split()
NOUNS = "ring bolt anvil widget rod plate gear nut".split()
DAY_US = 86_400 * 1_000_000


def _write(path, cols):
    pq.write_table(pa.table(cols), path, compression="snappy")


def _days(rng, start, end, n):
    """Timestamps (us since epoch) on whole days in [start, end)."""
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    return pa.array(rng.integers(lo, hi, n) * DAY_US, pa.timestamp("us"))


def _choice(rng, values, n, p=None):
    return pa.array(np.asarray(values, dtype=object)[rng.choice(len(values), n, p=p)])


def star(d, seed, sf):
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng([seed, 1])
    n = {k: max(int(v * sf), 1) for k, v in PER_SF.items()}
    i32, i64 = pa.int32(), pa.int64()

    _write(f"{d}/region.parquet", {
        "r_regionkey": pa.array(range(5), i32),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]})
    _write(f"{d}/nation.parquet", {
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32)})

    nc = n["customer"]
    _write(f"{d}/customer.parquet", {
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": np.round(rng.uniform(-999.99, 9999.99, nc), 2),
        "c_mktsegment": _choice(rng, ["AUTOMOBILE", "BUILDING", "FURNITURE",
                                      "HOUSEHOLD", "MACHINERY"], nc)})
    ns = n["supplier"]
    _write(f"{d}/supplier.parquet", {
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": np.round(rng.uniform(-999.99, 9999.99, ns), 2)})
    np_ = n["part"]
    names = [f"{c} {w}" for c in COLORS for w in NOUNS]
    _write(f"{d}/part.parquet", {
        "p_partkey": pa.array(np.arange(np_), i64),
        "p_name": _choice(rng, names, np_),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], np_),
        "p_type": _choice(rng, ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"], np_),
        "p_size": pa.array(rng.integers(1, 51, np_), i32),
        "p_retailprice": np.round(900 + (np.arange(np_) % 1000) * 0.1, 1)})
    no = n["orders"]
    _write(f"{d}/orders.parquet", {
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": _choice(rng, ["F", "O", "P"], no),
        "o_totalprice": np.round(rng.uniform(1000, 500000, no), 2),
        "o_orderdate": _days(rng, "1995-01-01", "2001-08-02", no),
        "o_orderpriority": _choice(rng, ["1-URGENT", "2-HIGH", "3-MEDIUM",
                                         "4-NOT SPECIFIED", "5-LOW"], no)})
    nl = n["lineitem"]
    qty = rng.integers(1, 51, nl).astype(np.float64)
    _write(f"{d}/lineitem.parquet", {
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, np_, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, nl), 2),
        "l_discount": rng.integers(0, 11, nl) / 100.0,
        "l_tax": rng.integers(0, 9, nl) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], nl),
        "l_linestatus": _choice(rng, ["F", "O"], nl),
        "l_shipdate": _days(rng, "1995-01-02", "2001-11-05", nl)})

    ne = n["events"]
    t0 = np.datetime64("2024-01-01", "us").astype(np.int64)
    gaps = rng.exponential(30 * DAY_US / ne, ne)
    _write(f"{d}/events.parquet", {
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(t0 + np.cumsum(gaps).astype(np.int64), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, n["users"], ne), i64),
        "event_type": _choice(rng, ["click", "error", "purchase", "signup", "view"], ne),
        "value": np.round(rng.exponential(50.0, ne), 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]})

    nd = n["documents"]
    lens = rng.integers(8, 90, nd)
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(WORDS), k)]) for k in lens]
    # near-duplicates, as in the repository's testdata: one document in
    # 20 is another document's text plus a trailing " dup", so the
    # dedup kernels' pair and verify stages have true pairs to find
    for i in np.sort(rng.choice(nd, nd // 20, replace=False)):
        j = (i + rng.integers(1, nd)) % nd
        texts[i] = texts[j] + " dup"
    _write(f"{d}/documents.parquet", {
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": _choice(rng, ["en", "de", "es", "fr", "zh"], nd, p=[0.4, 0.15, 0.15, 0.15, 0.15]),
        "source": [f"src{i % 20}" for i in range(nd)],
        "n_chars": pa.array([len(t) for t in texts], i64)})

    nv = n["embeddings"]
    labels = rng.integers(0, 10, nv)
    centers = rng.normal(0, 1, (10, 64))
    v = centers[labels] + rng.normal(0, 1.5, (nv, 64))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    _write(f"{d}/embeddings.parquet", {
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(labels, i32)})


# ---- WKB ------------------------------------------------------------

def _wkb_line(pts):
    return struct.pack("<BII", 1, 2, len(pts)) + np.asarray(pts, "<f8").tobytes()


def _wkb_multiline(parts):
    return struct.pack("<BI", 1, 5) + struct.pack("<I", len(parts)) + b"".join(_wkb_line(p) for p in parts)


def _wkb_polygon(rings):
    out = struct.pack("<BII", 1, 3, len(rings))
    for r in rings:
        out += struct.pack("<I", len(r)) + np.asarray(r, "<f8").tobytes()
    return out


def _wkb_point(x, y):
    return struct.pack("<BIdd", 1, 1, x, y)


# ---- OSM PBF (OSMHeader + zlib OSMData blobs, dense nodes, ways) ----

def _varint(v):
    out = bytearray()
    while True:
        b = v & 0x7F
        v >>= 7
        if v:
            out.append(b | 0x80)
        else:
            out.append(b)
            return bytes(out)


def _key(field, wire):
    return _varint((field << 3) | wire)


def _bytes(field, b):
    return _key(field, 2) + _varint(len(b)) + b


def _packed(field, vals, zigzag):
    if zigzag:
        vals = [(v << 1) ^ (v >> 63) for v in vals]
    return _bytes(field, b"".join(_varint(v) for v in vals))


def _deltas(vals):
    return [v - p for v, p in zip(vals, [0] + list(vals[:-1]))]


def _blob(typ, payload):
    blob = _key(2, 0) + _varint(len(payload)) + _bytes(3, zlib.compress(payload))
    header = _bytes(1, typ.encode()) + _key(3, 0) + _varint(len(blob))
    return struct.pack(">I", len(header)) + header + blob


def write_pbf(path, node_ids, lat, lon, ways, block=8000):
    """ways: list of (id, [node ids]); every way is tagged highway=residential."""
    table = _bytes(1, b"") + _bytes(1, b"highway") + _bytes(1, b"residential")
    with open(path, "wb") as f:
        f.write(_blob("OSMHeader", _bytes(4, b"OsmSchema-V0.6") + _bytes(4, b"DenseNodes")))
        for s in range(0, len(node_ids), block):
            ids = [int(i) for i in node_ids[s:s + block]]
            la = [int(round(v * 1e7)) for v in lat[s:s + block]]
            lo = [int(round(v * 1e7)) for v in lon[s:s + block]]
            dense = (_packed(1, _deltas(ids), True) + _packed(8, _deltas(la), True)
                     + _packed(9, _deltas(lo), True))
            f.write(_blob("OSMData", _bytes(1, table) + _bytes(2, _bytes(2, dense))))
        for s in range(0, len(ways), block):
            group = b"".join(
                _bytes(3, _key(1, 0) + _varint(wid) + _packed(2, [1], False)
                       + _packed(3, [2], False) + _packed(8, _deltas(nds), True))
                for wid, nds in ways[s:s + block])
            f.write(_blob("OSMData", _bytes(1, table) + _bytes(2, group)))


def extract(d, seed, k):
    """Road grid of side 20·k nodes plus new features scaled by k²."""
    os.makedirs(d, exist_ok=True)
    rng = np.random.default_rng([seed, 2])
    side, step, seg = 20 * k, 0.35, 20
    span = side * step
    # grid nodes: id = 1 + row*side + col; horizontal and vertical ways
    # of `seg` nodes each, sharing the grid nodes where they cross
    r, c = np.divmod(np.arange(side * side), side)
    node_ids = 1 + np.arange(side * side)
    lat = r * step + rng.uniform(-0.05, 0.05, side * side)
    lon = c * step + rng.uniform(-0.05, 0.05, side * side)
    ways, wid = [], 1
    for row in range(side):
        for s in range(0, side - 1, seg - 1):
            ways.append((wid, [int(1 + row * side + cc) for cc in range(s, min(s + seg, side))]))
            wid += 1
    for col in range(side):
        for s in range(0, side - 1, seg - 1):
            ways.append((wid, [int(1 + rr * side + col) for rr in range(s, min(s + seg, side))]))
            wid += 1
    write_pbf(f"{d}/extract.osm.pbf", node_ids, lat, lon, ways)

    # --existing: a third of the grid's ways, geometry = their node coords
    ex = [w for w in ways if w[0] % 3 == 0]
    _write(f"{d}/roads_existing.parquet", {
        "osm_id": pa.array([w for w, _ in ex], pa.int64()),
        "wkb_geometry": pa.array([_wkb_line([(lon[n - 1], lat[n - 1]) for n in nds]) for _, nds in ex],
                                 pa.binary())})
    # --deletions: every 50th way
    dele = [w for w, _ in ways if w % 50 == 1]
    _write(f"{d}/roads_deleted.parquet", {"osm_id": pa.array(dele, pa.int64())})

    # `shape` fixes the structure (how many vertices, rings and parts each
    # feature has) independently of the seed, so every seed yields the
    # same feature and vertex counts; `rng` places them
    shape = np.random.default_rng(0)

    def walk(n, length=12.0):
        """A smooth random walk of n vertices and fixed length, folded
        back into the extract's square at its edges."""
        step = length / n
        x0, y0 = rng.uniform(0, span, 2)
        ang = rng.uniform(0, 2 * np.pi) + np.cumsum(rng.normal(0, 0.15 * np.sqrt(step / 0.3), n))
        fold = lambda v: span - np.abs(span - np.mod(v, 2 * span))
        return list(zip(fold(x0 + np.cumsum(step * np.cos(ang))), fold(y0 + np.cumsum(step * np.sin(ang)))))

    # new lines: every 20th longer than the CLI's 500-node way cap (so
    # splitting fires), every 20th a MultiLineString of 2-3 parts
    n_lines = 10 * k * k
    geoms = []
    for i in range(n_lines):
        if i % 20 == 0:
            geoms.append(_wkb_line(walk(int(shape.integers(520, 700)))))
        elif i % 20 == 10:
            geoms.append(_wkb_multiline([walk(int(shape.integers(20, 80)))
                                         for _ in range(shape.integers(2, 4))]))
        else:
            geoms.append(_wkb_line(walk(int(shape.integers(20, 90)))))
    _write(f"{d}/roads_new.parquet", {
        "osm_id": pa.array(np.arange(1, n_lines + 1), pa.int64()),
        "highway": _choice(rng, ["path", "track", "service"], n_lines),
        "wkb_geometry": pa.array(geoms, pa.binary())})

    # polygons: a closed exterior ring and, for four in five, one closed hole
    n_poly = 4 * k * k
    polys = []
    for i in range(n_poly):
        cx, cy = rng.uniform(2, span - 2, 2)
        m = int(shape.integers(8, 24))
        t = np.sort(rng.uniform(0, 2 * np.pi, m))
        rad = rng.uniform(0.6, 1.2, m)
        outer = [(cx + a * np.cos(b), cy + a * np.sin(b)) for a, b in zip(rad, t)]
        rings = [outer + [outer[0]]]
        if i % 5 != 0:
            th = np.linspace(0, 2 * np.pi, 6, endpoint=False)
            hole = [(cx + 0.25 * np.cos(b), cy + 0.25 * np.sin(b)) for b in th]
            rings.append(hole + [hole[0]])
        polys.append(_wkb_polygon(rings))
    _write(f"{d}/areas_new.parquet", {
        "osm_id": pa.array(np.arange(1, n_poly + 1), pa.int64()),
        "landuse": _choice(rng, ["grass", "forest", "meadow"], n_poly),
        "wkb_geometry": pa.array(polys, pa.binary())})

    n_pts = 25 * k * k
    xs, ys = rng.uniform(0, span, n_pts), rng.uniform(0, span, n_pts)
    _write(f"{d}/pois_new.parquet", {
        "osm_id": pa.array(np.arange(1, n_pts + 1), pa.int64()),
        "amenity": _choice(rng, ["bench", "cafe", "toilets", "shelter"], n_pts),
        "name": [f"poi {i}" for i in range(n_pts)],
        "wkb_geometry": pa.array([_wkb_point(x, y) for x, y in zip(xs, ys)], pa.binary())})


def sizes(d):
    return {f: os.path.getsize(os.path.join(d, f)) for f in sorted(os.listdir(d))}
