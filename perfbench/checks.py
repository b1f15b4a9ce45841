"""Reference results for every timed operation.

Expected outputs come from the repository's pure-Python oracles
(``tests/oracle_geo.py``, ``tests/oracle_pbf.py``, ``tests/oracle_render.py``);
numpy is used only for exact pre-filters that cannot change an oracle
answer (bounding boxes, distance bounds). Row sets are compared as a
count plus an order-free content hash (the sum of crc32 over each row's
``|``-joined fields, which Spark computes with ``crc32(concat_ws(...))``).
"""

from __future__ import annotations

import struct
import zlib
from collections import Counter

import numpy as np

from tests import oracle_geo, oracle_pbf, oracle_render

from .harness import CheckFailed


def row_crc(*parts) -> int:
    return zlib.crc32("|".join(str(p) for p in parts).encode("utf-8"))


def spark_row_crc(*cols):
    from pyspark.sql import functions as F

    return F.crc32(F.concat_ws("|", *[F.col(c).cast("string") for c in cols]))


def expect(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


class Points:
    """Driver-side mirror of the table's point documents (exact floats as
    stored), kept in step with upserts."""

    def __init__(self, doc_ids: list[str], lat: np.ndarray, lon: np.ndarray) -> None:
        self.doc_ids = np.array(doc_ids, dtype=object)
        self.lat = np.asarray(lat, dtype=np.float64)
        self.lon = np.asarray(lon, dtype=np.float64)
        self.index = {d: i for i, d in enumerate(doc_ids)}

    def __len__(self) -> int:
        return len(self.doc_ids)

    def put(self, doc_id: str, lat: float, lon: float) -> None:
        i = self.index.get(doc_id)
        if i is None:
            self.index[doc_id] = len(self.doc_ids)
            self.doc_ids = np.append(self.doc_ids, np.array([doc_id], dtype=object))
            self.lat = np.append(self.lat, lat)
            self.lon = np.append(self.lon, lon)
        else:
            self.lat[i], self.lon[i] = lat, lon

    def in_box(self, box) -> np.ndarray:
        lat_lo, lat_hi, lon_lo, lon_hi = box
        return np.flatnonzero((self.lat >= lat_lo) & (self.lat <= lat_hi)
                              & (self.lon >= lon_lo) & (self.lon <= lon_hi))


def pip_rows(points: Points, idx: np.ndarray, polygons: dict) -> set[tuple[str, str]]:
    """(doc_id, poly_id) for every point in ``idx`` inside a polygon, by
    the oracle's crossing-number test. Points outside a polygon's bounding
    box cannot be inside it, so only box hits reach the oracle."""
    out = set()
    for pid, ring in polygons.items():
        lats = [p[0] for p in ring]
        lons = [p[1] for p in ring]
        sel = idx[(points.lat[idx] >= min(lats)) & (points.lat[idx] <= max(lats))
                  & (points.lon[idx] >= min(lons)) & (points.lon[idx] <= max(lons))]
        for i in sel.tolist():
            if oracle_geo.point_in_polygon(points.lat[i], points.lon[i], [ring]):
                out.add((points.doc_ids[i], pid))
    return out


def tile_levels(points: Points, idx: np.ndarray, zoom: int, min_zoom: int) -> dict:
    """{z: (doc total, tile count, content hash)} of the oracle's mercator
    tile assignment rolled up from ``zoom`` to ``min_zoom``."""
    leaf = Counter(oracle_geo.point_to_tile_mercator(points.lat[i], points.lon[i], zoom)
                   for i in idx.tolist())
    out = {}
    for d in range(zoom - min_zoom + 1):
        z = zoom - d
        level = Counter()
        for (x, y), n in leaf.items():
            level[(x >> d, y >> d)] += n
        out[z] = (sum(level.values()), len(level),
                  sum(row_crc(z, x, y, n) for (x, y), n in level.items()))
    return out


def check_tiles(rows, expected: dict) -> None:
    got = {int(r["tile_z"]): (int(r["docs"]), int(r["tiles"]), int(r["h"])) for r in rows}
    for z, (docs, tiles, h) in expected.items():
        g = got.get(z)
        expect(g is not None, f"zoom {z} missing from rollup")
        expect(g[0] == docs, f"zoom {z} sums to {g[0]} docs, expected {docs}")
        expect(g[1] == tiles and g[2] == h, f"zoom {z} tile assignment differs from oracle")
    expect(set(got) == set(expected), f"rollup zooms {sorted(got)} != {sorted(expected)}")


def haversine_np(lat1, lon1, lat2, lon2):
    p1, p2 = np.radians(lat1), np.radians(lat2)
    a = (np.sin((p2 - p1) / 2.0) ** 2
         + np.cos(p1) * np.cos(p2) * np.sin((np.radians(lon2) - np.radians(lon1)) / 2.0) ** 2)
    return 2.0 * oracle_geo.EARTH_RADIUS_M * np.arcsin(np.sqrt(np.clip(a, 0.0, 1.0)))


def check_knn(rows, points: Points, query_ids, k: int) -> None:
    """``rows``: (query_id, neighbor_id, rank) of the operator. Each
    checked query's neighbours must equal oracle_geo.knn_bruteforce over
    the candidates no farther than the operator's own k-th neighbour
    (recomputed here): any true neighbour the operator missed is nearer
    than that, so the pre-filter keeps it."""
    by_q: dict[str, list[tuple[int, str]]] = {}
    for r in rows:
        by_q.setdefault(r[0], []).append((int(r[2]), r[1]))
    for qid in query_ids:
        got = sorted(by_q.get(qid, []))
        expect(len(got) == k, f"query {qid}: {len(got)} neighbours, expected {k}")
        qi = points.index[qid]
        qlat, qlon = points.lat[qi], points.lon[qi]
        idx = [points.index.get(n) for _, n in got]
        expect(all(i is not None for i in idx), f"query {qid}: unknown neighbour id")
        reach = haversine_np(qlat, qlon, points.lat[idx], points.lon[idx]).max()
        d = haversine_np(qlat, qlon, points.lat, points.lon)
        near = np.flatnonzero(d <= reach * (1 + 1e-9) + 1.0)
        cands = [(points.doc_ids[i], points.lat[i], points.lon[i]) for i in near.tolist()]
        want = oracle_geo.knn_bruteforce([(qid, qlat, qlon)], cands, k)
        expect([(rank, n) for _, n, rank in want] == got,
               f"query {qid}: neighbours differ from oracle")


def oracle_blob_docs(path: str, blob_seqs: set[int]) -> dict[str, dict]:
    """Rendered oracle documents of the chosen data blobs (sequence
    numbers count the header blob as 0), keyed by doc_id."""
    out = {"header": None, "nodes": [], "ways": [], "relations": []}
    with open(path, "rb") as f:
        seq = 0
        while lb := f.read(4):
            (hlen,) = struct.unpack(">i", lb)
            hitems = oracle_pbf._walk(f.read(hlen))
            datasize = oracle_pbf._get(hitems, 3)[0]
            if seq in blob_seqs:
                bitems = oracle_pbf._walk(f.read(datasize))
                raw = oracle_pbf._get(bitems, 3)
                data = zlib.decompress(raw[0]) if raw else bytes(oracle_pbf._get(bitems, 1)[0])
                oracle_pbf._decode_block(data, out)
            else:
                f.seek(datasize, 1)
            seq += 1
    return {d["doc_id"]: d for d in oracle_render.render_file(out)}


def check_docs(rows, expected: dict[str, dict]) -> None:
    """Table rows (doc_id, spans) must carry the oracle's span sequence."""
    got = {r["doc_id"]: r for r in rows}
    expect(len(rows) == len(got), "duplicate doc_id in table")
    for doc_id, want in expected.items():
        r = got.get(doc_id)
        expect(r is not None, f"{doc_id} missing from table")
        spans = [s.asDict() for s in r["spans"]]
        expect(spans == want["spans"], f"{doc_id}: spans differ from oracle render")
