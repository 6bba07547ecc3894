"""S2 cell index kernel (pure numpy, vectorized).

The north rule asks for an "H3/S2 index" behind the spatial operators;
this module implements the S2 scheme from the published algorithm
(S2 geometry library design docs / s2geometry s2coords, Apache-2.0;
the Hilbert-curve cell ordering is the classic lookup-table
construction):

  lon/lat -> unit XYZ -> cube face (largest |component|) -> (u,v)
  gnomonic face coords -> (s,t) via the quadratic area-equalizing
  transform -> (i,j) discrete cell coords at a level -> Hilbert curve
  position ``pos`` (the space-filling order that makes cell-id ranges
  spatially compact — the property that lets a 100-TB table be
  range-partitioned by cell id with spatial locality).

Cell identity here is the compact ``cid = face * 4^level + pos``
(fits int64 through level 14 with room to spare; ``parent`` is
``cid >> 2`` thanks to the Hilbert prefix property).  ``cell_id_u64``
additionally emits the classic 64-bit leaf-aligned form.

Bit-level compatibility with the external s2geometry library cannot be
verified in this sandbox (no s2 package); what the tests pin instead
are the *defining properties*: Hilbert continuity (consecutive
positions are edge-adjacent cells), hierarchy (prefix nesting),
projection round-trips, neighbor symmetry across cube faces, and
exhaustive coverage at coarse levels.  Those properties are what the
engine relies on.

Everything accepts scalars or numpy arrays and is fully vectorized;
the Spark Column twin lives in ``operators/s2cells.py`` and is
asserted equal to this kernel.
"""

from __future__ import annotations

import numpy as np

MAX_LEVEL = 16  # engine cap for the compact cid (4^16*6 < 2^63)

# Hilbert sub-cell orderings: kPosToIJ[orientation][pos] = ij
# (ij = i*2 + j), and the orientation adjustment picked up when
# descending into a sub-cell.  orientation bits: 1 = swap axes,
# 2 = invert both.
SWAP_MASK = 1
INVERT_MASK = 2
POS_TO_IJ = np.array([
    [0, 1, 3, 2],   # canonical order (0,0) (0,1) (1,1) (1,0)
    [0, 2, 3, 1],   # axes swapped
    [3, 2, 0, 1],   # both inverted
    [3, 1, 0, 2],   # swapped and inverted
], dtype=np.int64)
POS_TO_ORIENTATION = np.array([SWAP_MASK, 0, 0, INVERT_MASK + SWAP_MASK],
                              dtype=np.int64)

# inverses: IJ_TO_POS[orientation][ij] = pos
IJ_TO_POS = np.empty_like(POS_TO_IJ)
for _o in range(4):
    for _p in range(4):
        IJ_TO_POS[_o, POS_TO_IJ[_o, _p]] = _p

# flattened step tables for the fold form (shared with the Spark twin):
# index = orientation*4 + ij  ->  digit*4 + next_orientation
STEP_LUT = np.empty(16, dtype=np.int64)
for _o in range(4):
    for _ij in range(4):
        _p = IJ_TO_POS[_o, _ij]
        STEP_LUT[_o * 4 + _ij] = _p * 4 + (_o ^ POS_TO_ORIENTATION[_p])

# inverse walk (pos -> ij): index = orientation*4 + digit -> ij*4 + next
INV_STEP_LUT = np.empty(16, dtype=np.int64)
for _o in range(4):
    for _p in range(4):
        INV_STEP_LUT[_o * 4 + _p] = POS_TO_IJ[_o, _p] * 4 + (_o ^ POS_TO_ORIENTATION[_p])


# --- projections -----------------------------------------------------------

def lonlat_to_xyz(lon, lat):
    """Degrees -> unit sphere XYZ."""
    lam = np.radians(np.asarray(lon, dtype=np.float64))
    phi = np.radians(np.asarray(lat, dtype=np.float64))
    cp = np.cos(phi)
    return cp * np.cos(lam), cp * np.sin(lam), np.sin(phi)


def xyz_to_lonlat(x, y, z):
    lon = np.degrees(np.arctan2(y, x))
    lat = np.degrees(np.arctan2(z, np.hypot(x, y)))
    return lon, lat


def xyz_to_face_uv(x, y, z):
    """Unit XYZ -> (face 0..5, u, v).  Tie-break mirrors the Column twin
    exactly: x wins ties over y, y over z."""
    x = np.asarray(x, dtype=np.float64)
    y = np.asarray(y, dtype=np.float64)
    z = np.asarray(z, dtype=np.float64)
    ax, ay, az = np.abs(x), np.abs(y), np.abs(z)
    x_major = (ax >= ay) & (ax >= az)
    y_major = ~x_major & (ay >= az)
    z_major = ~x_major & ~y_major
    axis = np.where(x_major, 0, np.where(y_major, 1, 2))
    major = np.where(x_major, x, np.where(y_major, y, z))
    face = np.where(major >= 0, axis, axis + 3)
    u = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [y / x, -x / y, -x / z, z / x, z / y], default=-y / z)
    v = np.select(
        [face == 0, face == 1, face == 2, face == 3, face == 4],
        [z / x, z / y, -y / z, y / x, -x / y], default=-x / z)
    return face.astype(np.int64), u, v


def face_uv_to_xyz(face, u, v):
    """(face, u, v) -> XYZ (not normalized; direction only)."""
    face = np.asarray(face)
    u = np.asarray(u, dtype=np.float64)
    v = np.asarray(v, dtype=np.float64)
    one = np.ones_like(u)
    x = np.select([face == 0, face == 1, face == 2, face == 3, face == 4],
                  [one, -u, -u, -one, v], default=v)
    y = np.select([face == 0, face == 1, face == 2, face == 3, face == 4],
                  [u, one, -v, -v, -one], default=u)
    z = np.select([face == 0, face == 1, face == 2, face == 3, face == 4],
                  [v, v, one, -u, -u], default=-one)
    return x, y, z


def uv_to_st(u):
    """Quadratic area-equalizing transform, u in [-1,1] -> s in [0,1]."""
    u = np.asarray(u, dtype=np.float64)
    # maximum(0, .) only silences the unused np.where branch; for the
    # selected branch the radicand is already >= 0
    return np.where(u >= 0.0,
                    0.5 * np.sqrt(np.maximum(0.0, 1.0 + 3.0 * u)),
                    1.0 - 0.5 * np.sqrt(np.maximum(0.0, 1.0 - 3.0 * u)))


def st_to_uv(s):
    s = np.asarray(s, dtype=np.float64)
    return np.where(s >= 0.5,
                    (1.0 / 3.0) * (4.0 * s * s - 1.0),
                    (1.0 / 3.0) * (1.0 - 4.0 * (1.0 - s) * (1.0 - s)))


def st_to_ij(s, level):
    n = 1 << level
    i = np.floor(np.asarray(s, dtype=np.float64) * n).astype(np.int64)
    return np.clip(i, 0, n - 1)


# --- Hilbert curve ---------------------------------------------------------

def ij_to_pos(face, i, j, level):
    """(face, i, j) at ``level`` -> Hilbert position (0 .. 4^level-1).
    Vectorized: one table lookup per level over the whole array."""
    face = np.asarray(face, dtype=np.int64)
    i = np.asarray(i, dtype=np.int64)
    j = np.asarray(j, dtype=np.int64)
    bits = face & SWAP_MASK          # per-face starting orientation
    pos = np.zeros_like(i)
    for k in range(level - 1, -1, -1):
        ij2 = ((i >> k) & 1) * 2 + ((j >> k) & 1)
        v = STEP_LUT[bits * 4 + ij2]
        pos = pos * 4 + (v >> 2)
        bits = v & 3
    return pos


def pos_to_ij(face, pos, level):
    """Inverse of ij_to_pos (vectorized)."""
    face = np.asarray(face, dtype=np.int64)
    pos = np.asarray(pos, dtype=np.int64)
    bits = face & SWAP_MASK
    i = np.zeros_like(pos)
    j = np.zeros_like(pos)
    for k in range(level - 1, -1, -1):
        digit = (pos >> (2 * k)) & 3
        v = INV_STEP_LUT[bits * 4 + digit]
        ij = v >> 2
        i = i * 2 + (ij >> 1)
        j = j * 2 + (ij & 1)
        bits = v & 3
    return i, j


# --- cell ids --------------------------------------------------------------

def cid_pack(face, pos, level):
    """Compact id: face * 4^level + pos.  parent(cid) == cid >> 2."""
    return (np.asarray(face, dtype=np.int64) << (2 * level)) + np.asarray(pos, dtype=np.int64)


def cell_id_u64(face, pos, level):
    """Classic 64-bit leaf-aligned form: face(3 bits) | pos << shift |
    lsb marker — emitted as uint64 for display/interop."""
    shift = 2 * (30 - level) + 1
    f = np.asarray(face, dtype=np.uint64)
    p = np.asarray(pos, dtype=np.uint64)
    return (f << np.uint64(61)) | (p << np.uint64(shift)) | (np.uint64(1) << np.uint64(shift - 1))


def lonlat_to_cell(lon, lat, level):
    """lon/lat degrees -> (face, i, j, pos) at ``level``."""
    x, y, z = lonlat_to_xyz(lon, lat)
    face, u, v = xyz_to_face_uv(x, y, z)
    i = st_to_ij(uv_to_st(u), level)
    j = st_to_ij(uv_to_st(v), level)
    return face, i, j, ij_to_pos(face, i, j, level)


def lonlat_to_cid(lon, lat, level):
    face, _i, _j, pos = lonlat_to_cell(lon, lat, level)
    return cid_pack(face, pos, level)


def cell_center_lonlat(face, i, j, level):
    """Center of cell (face, i, j) at ``level`` -> lon/lat degrees."""
    n = 1 << level
    s = (np.asarray(i, dtype=np.float64) + 0.5) / n
    t = (np.asarray(j, dtype=np.float64) + 0.5) / n
    x, y, z = face_uv_to_xyz(np.asarray(face), st_to_uv(s), st_to_uv(t))
    return xyz_to_lonlat(x, y, z)


# --- neighbors / k-ring ----------------------------------------------------

def _wrap_face_ij(face, i, j, level):
    """Map possibly out-of-range (i, j) on ``face`` to the containing
    (face', i', j') across the cube edge.  Linear ST is used in BOTH
    directions (the standard wrap construction): for a one-cell
    overshoot the roundtrip lands exactly in the topologically adjacent
    cell, independent of the quadratic cell metric."""
    n = 1 << level
    face = np.asarray(face, dtype=np.int64)
    i = np.clip(np.asarray(i, dtype=np.int64), -1, n)
    j = np.clip(np.asarray(j, dtype=np.int64), -1, n)
    eps = np.finfo(np.float64).eps
    lim = 1.0 + eps
    u = np.clip((2.0 * (i + 0.5) / n) - 1.0, -lim, lim)
    v = np.clip((2.0 * (j + 0.5) / n) - 1.0, -lim, lim)
    x, y, z = face_uv_to_xyz(face, u, v)
    norm = np.sqrt(x * x + y * y + z * z)
    f2, u2, v2 = xyz_to_face_uv(x / norm, y / norm, z / norm)
    i2 = np.clip(np.floor(n * 0.5 * (u2 + 1.0)).astype(np.int64), 0, n - 1)
    j2 = np.clip(np.floor(n * 0.5 * (v2 + 1.0)).astype(np.int64), 0, n - 1)
    return f2, i2, j2


def neighbors(face, i, j, level):
    """All edge+vertex neighbors of each cell: (m, 8) arrays of
    (face, i, j).  At cube corners the diagonal candidate aliases onto
    an edge neighbor (only 7 distinct neighbors exist there) — callers
    that need sets should dedupe by cid, as ``kring_cids`` does."""
    face = np.atleast_1d(np.asarray(face, dtype=np.int64))
    i = np.atleast_1d(np.asarray(i, dtype=np.int64))
    j = np.atleast_1d(np.asarray(j, dtype=np.int64))
    n = 1 << level
    shifts = [(di, dj) for di in (-1, 0, 1) for dj in (-1, 0, 1)
              if not (di == 0 and dj == 0)]
    fs, is_, js = [], [], []
    for di, dj in shifts:
        ci, cj = i + di, j + dj
        inside = (ci >= 0) & (ci < n) & (cj >= 0) & (cj < n)
        f2, i2, j2 = _wrap_face_ij(face, ci, cj, level)
        fs.append(np.where(inside, face, f2))
        is_.append(np.where(inside, ci, i2))
        js.append(np.where(inside, cj, j2))
    return (np.stack(fs, axis=1), np.stack(is_, axis=1), np.stack(js, axis=1))


def kring_flat(face, i, j, level, ring):
    """Vectorized k-ring over a whole BATCH of cells at once: returns
    ``(owners, cids)`` — for each input index m, the sorted compact
    cids of every cell within ``ring`` neighbor expansions of cell m
    appear with ``owners == m``.  The expansion is whole-batch numpy
    (one ``neighbors`` call + int64 set algebra per ring; no per-row
    Python loop), so a large query table fans out in one Arrow pass."""
    face = np.atleast_1d(np.asarray(face, dtype=np.int64))
    i = np.atleast_1d(np.asarray(i, dtype=np.int64))
    j = np.atleast_1d(np.asarray(j, dtype=np.int64))
    m = face.shape[0]
    owners0 = np.arange(m, dtype=np.int64)

    def key(owner, f, ii, jj):
        # (owner, face, i, j) -> one sortable int64; valid while
        # owner < 2^(60 - 2*level) / 8 (level<=16 -> owners < 2^25)
        return (((owner * 8 + f) << (2 * level)) | (ii << level) | jj)

    def unkey(k):
        jj = k & ((1 << level) - 1)
        ii = (k >> level) & ((1 << level) - 1)
        of = k >> (2 * level)
        return of >> 3, of & 7, ii, jj

    seen = np.sort(key(owners0, face, i, j))
    frontier = seen
    for _ in range(ring):
        fo, ff, fi, fj = unkey(frontier)
        nf, ni, nj = neighbors(ff, fi, fj, level)
        cand = np.unique(key(np.repeat(fo, 8), nf.ravel(), ni.ravel(), nj.ravel()))
        fresh = cand[~np.isin(cand, seen, assume_unique=True)]
        if fresh.size == 0:
            break
        seen = np.sort(np.concatenate([seen, fresh]))
        frontier = fresh
    so, sf, si, sj = unkey(seen)
    pos = ij_to_pos(sf, si, sj, level)
    cids = cid_pack(sf, pos, level)
    order = np.lexsort((cids, so))
    return so[order], cids[order]


def kring_cids(face, i, j, level, ring):
    """Per-input list-of-arrays view of ``kring_flat`` (one sorted cid
    array per input cell)."""
    owners, cids = kring_flat(face, i, j, level, ring)
    n = np.atleast_1d(np.asarray(face)).shape[0]
    counts = np.bincount(owners, minlength=n)
    return list(np.split(cids, np.cumsum(counts)[:-1]))


# Minimum ground width of a level-``level`` cell (radians): the
# published quadratic-projection metric is ~0.9428/2^level; we use a
# deliberately smaller constant so ring-count distance bounds round
# DOWN (see knn_s2 sizing note in operators/s2cells.py).
MIN_WIDTH_RAD = 0.7


def min_cell_width_km(level):
    return MIN_WIDTH_RAD / (1 << level) * 6371.0
