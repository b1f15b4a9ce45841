"""Seeded OSM corpus and query generator for the benchmark.

Every input of a run derives from ``--seed``: the same seed and
parameters give byte-identical PBF files and the same query sets. The
corpus is a mixed PBF: dense nodes (``hot_fraction`` of them inside one
~0.2 degree city cluster, the rest uniform world-wide, 30 % tagged),
then ways over runs of consecutive node ids (every 5th closed), then
``type=multipolygon`` relations whose outer member is a closed way.

Files are cached under the work directory keyed by (seed, params) and
a hash of the engine's PBF encoder that writes them, so a repeated seed
skips generation while a changed encoder writes a new file; the
generation time is reported apart from set-up time either way.
"""

from __future__ import annotations

import hashlib
import json
import os
from dataclasses import asdict, dataclass

import numpy as np

from osm_pbf_spark.pbf import encoder as E

HOT_LAT, HOT_LON = 52.5, 13.4
TAG_KEYS = ["amenity", "highway", "name", "shop", "building"]
TAG_VALS = ["cafe", "primary", "alpha", "bakery", "yes", "tower", "stop"]
NODES_PER_BLOB = 8000
WAYS_PER_BLOB = 4000
RELS_PER_BLOB = 4000
WAY_ID_BASE = 1_000_000_000
REL_ID_BASE = 2_000_000_000

# (lat, lon) rings of the three polygons every spatial workload joins
# against: the hot city extent (the skew case), an equatorial band and
# a triangle over North America.
BENCH_POLYGONS = {
    "hot_city": [
        (HOT_LAT - 0.15, HOT_LON - 0.15), (HOT_LAT - 0.15, HOT_LON + 0.15),
        (HOT_LAT + 0.15, HOT_LON + 0.15), (HOT_LAT + 0.15, HOT_LON - 0.15),
    ],
    "band": [(-10.0, -60.0), (-10.0, 60.0), (10.0, 60.0), (10.0, -60.0)],
    "tri": [(30.0, -120.0), (60.0, -90.0), (20.0, -60.0)],
}


@dataclass(frozen=True)
class CorpusParams:
    n_nodes: int
    n_ways: int
    n_rels: int
    hot_fraction: float = 0.5

    def key(self, seed: int) -> str:
        blob = json.dumps({"seed": seed, **asdict(self), "encoder": code_hash(E.__file__)},
                          sort_keys=True)
        return hashlib.sha256(blob.encode()).hexdigest()[:16]


def code_hash(path: str) -> str:
    """Content hash of a source file, or of every ``.py`` file under a
    directory: part of the cache key of whatever that code writes."""
    files = ([path] if os.path.isfile(path) else
             sorted(os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs
                    if f.endswith(".py")))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, os.path.dirname(path)).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()[:16]


@dataclass(frozen=True)
class Corpus:
    path: str
    params: CorpusParams
    node_ids: np.ndarray  # int64, 1..n_nodes
    lat: np.ndarray  # degrees, by the PBF spec formula 1e-9 * (granularity * raw)
    lon: np.ndarray

    @property
    def n_docs(self) -> int:
        return self.params.n_nodes + self.params.n_ways + self.params.n_rels

    @property
    def n_bytes(self) -> int:
        return os.path.getsize(self.path)


def corpus(work_dir: str, seed: int, params: CorpusParams) -> Corpus:
    """The seeded PBF and its node coordinates, generated on first use of
    (seed, params) and read from the cache after that."""
    cache = os.path.join(work_dir, "corpus")
    os.makedirs(cache, exist_ok=True)
    path = os.path.join(cache, f"seed{seed}-{params.key(seed)}.osm.pbf")
    truth = path + ".nodes.npz"
    if not (os.path.exists(path) and os.path.exists(truth)):
        blocks, lat_raw, lon_raw = _blocks(np.random.default_rng(seed), params)
        tmp = f"{truth}.tmp-{os.getpid()}.npz"
        np.savez(tmp, lat_raw=lat_raw, lon_raw=lon_raw)
        os.replace(tmp, truth)
        tmp = f"{path}.tmp-{os.getpid()}"
        E.write_pbf(tmp, blocks)
        os.replace(tmp, path)
    with np.load(truth) as z:
        lat_raw, lon_raw = z["lat_raw"], z["lon_raw"]
    return Corpus(
        path, params, np.arange(1, params.n_nodes + 1, dtype=np.int64),
        1e-9 * (100 * lat_raw.astype(np.float64)), 1e-9 * (100 * lon_raw.astype(np.float64)),
    )


def _blocks(rng: np.random.Generator, p: CorpusParams):
    n = p.n_nodes
    n_hot = int(n * p.hot_fraction)
    lat = np.concatenate([
        HOT_LAT + rng.uniform(-0.1, 0.1, n_hot), rng.uniform(-85.0, 85.0, n - n_hot)
    ])
    lon = np.concatenate([
        HOT_LON + rng.uniform(-0.1, 0.1, n_hot), rng.uniform(-180.0, 180.0, n - n_hot)
    ])
    perm = rng.permutation(n)
    lat_np = np.round(lat[perm] * 1e7).astype(np.int64)
    lon_np = np.round(lon[perm] * 1e7).astype(np.int64)
    lat_raw, lon_raw = lat_np.tolist(), lon_np.tolist()
    tagged = (rng.random(n) < 0.3).tolist()
    tag_k = rng.integers(0, len(TAG_KEYS), n).tolist()
    tag_v = rng.integers(0, len(TAG_VALS), n).tolist()

    blocks = []
    for start in range(0, n, NODES_PER_BLOB):
        st = E.StringTable()
        nodes = [
            {
                "id": i + 1,
                "lat_raw": lat_raw[i],
                "lon_raw": lon_raw[i],
                "tags": {TAG_KEYS[tag_k[i]]: TAG_VALS[tag_v[i]]} if tagged[i] else {},
            }
            for i in range(start, min(start + NODES_PER_BLOB, n))
        ]
        blocks.append(E.encode_primitive_block([E.encode_dense_nodes(nodes, st)], st))

    starts = rng.integers(1, max(2, n - 12), p.n_ways).tolist()
    for w0 in range(0, p.n_ways, WAYS_PER_BLOB):
        st = E.StringTable()
        ways = []
        for w in range(w0, min(w0 + WAYS_PER_BLOB, p.n_ways)):
            refs = list(range(starts[w], starts[w] + 10))
            if w % 5 == 0:
                refs.append(starts[w])  # closed ring -> polygon
            ways.append({"id": WAY_ID_BASE + w, "refs": refs,
                         "tags": {"highway": "residential"}})
        blocks.append(E.encode_primitive_block(
            [b"".join(E.encode_way(w, st) for w in ways)], st))

    n_closed = max(1, p.n_ways // 5)
    for r0 in range(0, p.n_rels, RELS_PER_BLOB):
        st = E.StringTable()
        rels = [
            {
                "id": REL_ID_BASE + r,
                "members": [{"role": "outer", "ref": WAY_ID_BASE + 5 * (r % n_closed),
                             "type": "way"}],
                "tags": {"type": "multipolygon"},
            }
            for r in range(r0, min(r0 + RELS_PER_BLOB, p.n_rels))
        ]
        blocks.append(E.encode_primitive_block(
            [b"".join(E.encode_relation(r, st) for r in rels)], st))
    return blocks, lat_np, lon_np


def closed_way_count(p: CorpusParams) -> int:
    return len(range(0, p.n_ways, 5))


def sample_ids(rng: np.random.Generator, ids: np.ndarray, n: int) -> np.ndarray:
    """n distinct ids drawn from ``ids`` (all of them when n >= len)."""
    if n >= len(ids):
        return ids.copy()
    return ids[np.sort(rng.choice(len(ids), n, replace=False))]


def region_boxes(rng: np.random.Generator, n: int) -> list[tuple[float, float, float, float]]:
    """Seeded (lat_lo, lat_hi, lon_lo, lon_hi) read regions for the lookup
    mix: half inside the hot city cluster, half world-wide, sides of
    0.02-0.06 degrees (city) and 2-8 degrees (world)."""
    out = []
    for i in range(n):
        if i % 2 == 0:
            side = rng.uniform(0.02, 0.06)
            lat0 = HOT_LAT + rng.uniform(-0.1, 0.1 - side)
            lon0 = HOT_LON + rng.uniform(-0.1, 0.1 - side)
        else:
            side = rng.uniform(2.0, 8.0)
            lat0 = rng.uniform(-80.0, 80.0 - side)
            lon0 = rng.uniform(-175.0, 175.0 - side)
        out.append((float(lat0), float(lat0 + side), float(lon0), float(lon0 + side)))
    return out
