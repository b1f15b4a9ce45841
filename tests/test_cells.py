"""Cell index properties: encode/decode/parent/child/neighbor (SURVEY §5.2.3)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from osm_pbf_spark.functions import cells

lat_s = st.floats(min_value=-90.0, max_value=90.0, allow_nan=False)
lon_s = st.floats(min_value=-180.0, max_value=180.0, allow_nan=False)
level_s = st.integers(min_value=1, max_value=cells.MAX_LEVEL)


@given(lat_s, lon_s, level_s)
@settings(max_examples=300, deadline=None)
def test_cell_roundtrip_contains_point(lat, lon, level):
    c = cells.cell_id(np.array([lat]), np.array([lon]), level)
    lat_min, lat_max, lon_min, lon_max = cells.cell_bounds(c)
    # containment up to one quantization ULP: points within float rounding
    # of a boundary may land in either adjacent cell — what matters for
    # join correctness is CONSISTENCY (same quantizer everywhere), checked
    # by test_quantizer_consistent_with_center below.
    eps = 1e-9 * max(1.0, abs(lat), abs(lon))
    assert lat_min[0] - eps <= lat <= lat_max[0] + eps
    assert lon_min[0] - eps <= lon <= lon_max[0] + eps
    assert cells.cell_level(c)[0] == level


@given(lat_s, lon_s, level_s)
@settings(max_examples=300, deadline=None)
def test_quantizer_consistent_with_center(lat, lon, level):
    c = cells.cell_id(np.array([lat]), np.array([lon]), level)
    lat_min, lat_max, lon_min, lon_max = cells.cell_bounds(c)
    center_lat = (lat_min + lat_max) / 2.0
    center_lon = (lon_min + lon_max) / 2.0
    c2 = cells.cell_id(center_lat, center_lon, level)
    assert c2[0] == c[0]


@given(lat_s, lon_s, level_s)
@settings(max_examples=300, deadline=None)
def test_parent_is_prefix(lat, lon, level):
    c = cells.cell_id(np.array([lat]), np.array([lon]), level)
    for pl in range(0, level + 1):
        p = cells.parent(c, pl)
        # the parent at the same level is the cell itself
        if pl == level:
            assert p[0] == c[0]
        # EXACT hierarchy property: quantizing directly at the parent
        # level gives the same cell as truncating the child's Morton
        # bits (multiplication by 2^L is exact in IEEE float64, so the
        # floor results nest perfectly).
        direct = cells.cell_id(np.array([lat]), np.array([lon]), pl)
        assert p[0] == direct[0]


@given(lat_s, lon_s, st.integers(min_value=1, max_value=cells.MAX_LEVEL - 1))
@settings(max_examples=200, deadline=None)
def test_children_partition_parent(lat, lon, level):
    c = int(cells.cell_id(np.array([lat]), np.array([lon]), level)[0])
    kids = cells.children(c)
    assert len(set(kids)) == 4
    back = cells.parent(np.array(kids), level)
    assert set(back.tolist()) == {c}


@given(lat_s, lon_s, st.integers(min_value=2, max_value=20))
@settings(max_examples=200, deadline=None)
def test_neighbors_symmetric(lat, lon, level):
    c = cells.cell_id(np.array([lat]), np.array([lon]), level)
    ring = cells.neighbors(c, ring=1)[0]
    assert c[0] in ring
    # symmetry: for every neighbor n, c is in neighbors(n)
    for n in np.unique(ring):
        back = cells.neighbors(np.array([n]), ring=1)[0]
        assert c[0] in back


def test_cells_are_positive_int64():
    rng = np.random.default_rng(42)
    lat = rng.uniform(-90, 90, 1000)
    lon = rng.uniform(-180, 180, 1000)
    c = cells.cell_id(lat, lon, cells.MAX_LEVEL)
    assert c.dtype == np.int64
    assert (c > 0).all()


def test_lon_wrap_neighbors():
    # cell at lon ~ -180 must neighbor a cell at lon ~ +180
    c = cells.cell_id(np.array([0.0]), np.array([-179.99]), 8)
    ring = cells.neighbors(c, ring=1)[0]
    lats_min, _, lon_min, lon_max = cells.cell_bounds(np.unique(ring))
    assert lon_max.max() > 179.0  # wrapped across the antimeridian


def test_neighbors_of_mixed_levels_match_per_level_calls():
    # each ring is built at its own cell's level, in input order
    rng = np.random.default_rng(5)
    lat, lon = rng.uniform(-90, 90, 40), rng.uniform(-180, 180, 40)
    coarse = cells.cell_id(lat[:20], lon[:20], 6)
    fine = cells.cell_id(lat[20:], lon[20:], 12)
    mixed = np.concatenate([fine[:10], coarse, fine[10:]])
    want = np.concatenate([
        cells.neighbors(fine[:10]), cells.neighbors(coarse), cells.neighbors(fine[10:]),
    ])
    assert (cells.neighbors(mixed, ring=1) == want).all()
