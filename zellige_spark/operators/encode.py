"""Per-tile MVT assembly operators — the engine's shuffle boundary.

The reference encoder is a single-threaded pure function per tile
(/root/reference/src/Data/Geometry/MapnikVectorTile.hs:30-33,60-68);
its streaming fold (GeoJsonStreamingToMvt.hs:25-57) is the shape we
distribute as one Spark path:

``assemble_point_tiles_streaming``:
``repartition(tile_key) -> sortWithinPartitions(tile_key, image_id)
-> mapInArrow(point_tile_fold)``.  One shuffle; each task folds its
tiles in Arrow-batch-bounded memory — a tile with 10^9 features never
materializes as one group (the applyInPandas trap).  This is exactly
Spark's sort-based aggregation pattern applied to MVT layers.
``assemble_captioned_tiles_streaming`` is the same shape with a second
(caption) property.

Determinism: the reference is single-threaded, so its stable order is
input order.  A distributed engine needs an explicit stable key — we
sort features by ``image_id`` within each tile; feature ids are then
1..n in that order (convertId counter semantics, GeoJsonToMvt.hs:54-60).
The Spark path is byte-identical to ``_finish_point_tile`` applied to
each tile's image_id-sorted rows on the driver (tested).

Feature properties: ``{"image_id": St <id>}`` per feature; dictionary
tables are first-seen order (= feature order, since ids are unique),
matching the kernel's standardized dictionary semantics.
"""

from __future__ import annotations

from typing import Iterator, List, Optional

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernel import mvt as kmvt
from . import tiles as T

TILE_SCHEMA = ("zoom int, tile_x long, tile_y long, mvt binary, "
               "feature_count long, bytes_len long")


# ---------------------------------------------------------------------------
# numpy byte-assembly helpers (vectorized; no per-feature Python beyond joins)
# ---------------------------------------------------------------------------

def _varints_concat(vals: np.ndarray) -> tuple:
    """Varint-encode a uint64 array; returns (bytes, per-value byte length).

    The chunk matrix is sized to the batch's actual max value (typical
    tile deltas need 2-3 varint bytes, not the worst-case 10): this
    helper runs ~9 times per Arrow batch in the encode fold and its
    intermediates dominate the fold's DRAM traffic, which is the scaling
    ceiling on multi-core hosts."""
    v = np.asarray(vals, dtype=np.uint64)
    n = len(v)
    vmax = int(v.max()) if n else 0
    nb = max(1, (vmax.bit_length() + 6) // 7)
    if nb == 1:  # every value fits one byte: no matrix, no lengths math
        return v.astype(np.uint8).tobytes(), np.ones(n, dtype=np.int64)
    # significant-byte count via a comparison ladder (nb-1 bool passes)
    # instead of building a reversed nonzero matrix + argmax
    sig = np.ones(n, dtype=np.int64)
    for k in range(1, nb):
        sig += v >= np.uint64(1 << (7 * k))
    chunks = np.empty((n, nb), dtype=np.uint8)
    for k in range(nb):
        np.bitwise_and(v >> np.uint64(7 * k), np.uint64(0x7F),
                       out=chunks[:, k], casting="unsafe")
    idx = np.arange(nb)[None, :]
    used = idx < sig[:, None]
    cont = idx < (sig - 1)[:, None]
    chunks |= np.uint8(0x80) * cont
    return chunks[used].tobytes(), sig


def _varint_field(vals: np.ndarray):
    """(concatenated varint bytes as uint8 array, per-value lengths)."""
    blob, lens = _varints_concat(vals)
    return np.frombuffer(blob, dtype=np.uint8), lens


_ARANGE32 = np.arange(0, dtype=np.int32)  # grow-only scratch (per worker)


def _arange32(m: int) -> np.ndarray:
    """First m of a cached int32 arange — the assembly scatter below
    needs a fresh-looking arange per variable field and allocating +
    filling it each time was measured DRAM traffic, not compute."""
    global _ARANGE32
    if len(_ARANGE32) < m:
        _ARANGE32 = np.arange(max(m, 2 * len(_ARANGE32)), dtype=np.int32)
    return _ARANGE32[:m]


def _assemble_records(n: int, parts) -> tuple:
    """Vectorized variable-length record assembly.

    ``parts`` is an ordered list of either bytes (a constant segment in
    every record) or (uint8 array, per-record lengths) for a
    variable-length field.  Returns (big uint8 buffer, per-record
    lengths) with record i = concat of its segments — zero per-record
    Python.  The scatter computes each source byte's destination as
    arange(len(data)) + repeat(per-record shift): ONE O(bytes) repeat
    per variable field (the naive two-repeat form — field starts plus
    within-field offsets — doubled the index traffic), with int32
    indexes whenever the output fits (it always does per Arrow batch):
    the index arrays are the fold's main DRAM load, and this fold is
    bandwidth-bound at high core counts (BENCH/BASELINE.md knee).
    """
    const_total = 0
    rec_lens = np.zeros(n, dtype=np.int64)
    for p in parts:
        if isinstance(p, (bytes, bytearray)):
            const_total += len(p)
        else:
            rec_lens += p[1]
    if const_total:
        rec_lens += const_total
    rec_starts = np.zeros(n + 1, dtype=np.int64)
    np.cumsum(rec_lens, out=rec_starts[1:])
    total = int(rec_starts[-1])
    small = total < 2**31 - 1
    idx_t = np.int32 if small else np.int64
    starts0 = rec_starts[:-1].astype(idx_t) if small else rec_starts[:-1]
    out = np.empty(total, dtype=np.uint8)
    # running within-record offset of each part: constant segments
    # contribute a SCALAR (no per-record array traffic), variable ones
    # an array added lazily only when the next part needs it
    prefix_const = 0
    prefix_var = None  # lazily-allocated (n,) idx_t
    for p in parts:
        starts = starts0 if prefix_var is None else starts0 + prefix_var
        if prefix_const:
            starts = starts + prefix_const
        if isinstance(p, (bytes, bytearray)):
            src = np.frombuffer(bytes(p), dtype=np.uint8)
            if len(src) == 1:  # the common case: one scatter, no index matrix
                out[starts] = src[0]
            else:
                # broadcast the constant into every record
                idx = starts[:, None] + np.arange(len(src), dtype=idx_t)[None, :]
                out[idx.reshape(-1)] = np.tile(src, n)
            prefix_const += len(src)
        else:
            data, lens = p
            # per-record shift from data coords to output coords
            offs = np.zeros(n, dtype=np.int64)
            np.cumsum(lens[:-1], out=offs[1:])
            shift = (starts - offs.astype(idx_t) if small
                     else starts - offs)
            if small:
                dest = _arange32(len(data)) + np.repeat(shift, lens)
            else:
                dest = np.arange(len(data), dtype=np.int64) + np.repeat(shift, lens)
            out[dest] = data
            lv = lens if lens.dtype == idx_t else lens.astype(idx_t)
            prefix_var = lv if prefix_var is None else prefix_var + lv
    return out, rec_lens


def _point_feature_blobs(px: np.ndarray, py: np.ndarray,
                         fids: np.ndarray, vidxs: np.ndarray) -> tuple:
    """Fully-assembled feature messages (wrapped as layer field 2) for
    n single-point features: id(f1)=fids, tags(f2)=[key 0, value
    vidxs], type(f3)=POINT, geometry(f4)=[MoveTo(1), zig(x), zig(y)] —
    all numpy, no per-feature Python.  Returns (uint8 buffer,
    per-feature lengths).  Callers may pass rows of MANY tiles at once
    (fids/vidxs restart per tile) and slice the buffer per tile."""
    ix = np.rint(px).astype(np.int64)
    iy = np.rint(py).astype(np.int64)
    n = len(ix)
    zx = _varint_field(kmvt.zig(ix))
    zy = _varint_field(kmvt.zig(iy))
    geo_len = 1 + zx[1] + zy[1]                      # cmd byte + params
    fid = _varint_field(fids.astype(np.uint64))
    vidx = _varint_field(vidxs.astype(np.uint64))    # value table index
    tags_len = 1 + vidx[1]                            # key varint(0) + value idx
    glen_v = _varint_field(geo_len.astype(np.uint64))
    tlen_v = _varint_field(tags_len.astype(np.uint64))
    # feature = 08 fid | 12 tlen 00 vidx | 18 01 | 22 glen 09 zx zy
    # its length is known analytically from the varint field lengths,
    # so the wrapper (layer field 2: 12 <len> <feature>) is FUSED into
    # one assembly — the old assemble-then-rewrap did a second full
    # scatter pass over every feature byte
    feat_lens = 7 + fid[1] + tlen_v[1] + vidx[1] + glen_v[1] + zx[1] + zy[1]
    flen_v = _varint_field(feat_lens.astype(np.uint64))
    wrapped, wlens = _assemble_records(n, [
        b"\x12", flen_v, b"\x08", fid, b"\x12", tlen_v, b"\x00", vidx,
        b"\x18\x01\x22", glen_v, b"\x09", zx, zy])
    return wrapped, wlens


_KEYS_BLOB = b"\x1a\x08image_id"  # keys(f3) = ["image_id"]


def _utf8_cat(ids) -> tuple:
    """(uint8 data, per-string byte lengths) for a list of Python strs."""
    n = len(ids)
    joined = "".join(ids).encode("utf-8")
    char_total = sum(map(len, ids))
    if len(joined) == char_total:  # pure-ASCII fast path
        slens = np.fromiter(map(len, ids), dtype=np.int64, count=n)
    else:
        slens = np.fromiter((len(s.encode("utf-8")) for s in ids),
                            dtype=np.int64, count=n)
    return np.frombuffer(joined, dtype=np.uint8), slens


def _utf8_view(arr) -> tuple:
    """Zero-copy (uint8 data buffer, int64 absolute offsets) of a
    pyarrow string array: Arrow strings ARE one contiguous utf-8 buffer
    plus offsets, so the fold never materializes Python str objects
    (guide-§4.2 re-slicing property)."""
    import pyarrow as pa

    if pa.types.is_large_string(arr.type):
        off_t = np.int64
    elif pa.types.is_string(arr.type):
        off_t = np.int32
    else:  # dictionary/string_view etc. — normalize once
        arr = arr.cast(pa.string())
        off_t = np.int32
    bufs = arr.buffers()
    offs = np.frombuffer(bufs[1], dtype=off_t)[
        arr.offset:arr.offset + len(arr) + 1].astype(np.int64)
    data = np.frombuffer(bufs[2], dtype=np.uint8)
    return data, offs


def _string_values_blob_np(sarr: np.ndarray, slens: np.ndarray) -> tuple:
    """Layer field-4 Value{string_value} messages over pre-concatenated
    utf-8 bytes + lengths (no per-row Python byte work)."""
    n = len(slens)
    slen_v = _varint_field(slens.astype(np.uint64))
    inner_len = 1 + slen_v[1] + slens           # 0a + varint(len) + bytes
    ilen_v = _varint_field(inner_len.astype(np.uint64))
    return _assemble_records(n, [b"\x22", ilen_v, b"\x0a", slen_v,
                                 (sarr, slens)])


def _string_values_blob(ids) -> tuple:
    """Value messages for a list of Python strings (captioned path; the
    point fold uses the buffer form)."""
    return _string_values_blob_np(*_utf8_cat(ids))


def _encode_tile_run_parts(id_data: np.ndarray, id_lens: np.ndarray,
                           px: np.ndarray, py: np.ndarray,
                           tile_starts: np.ndarray,
                           layer_name: str, extent: int):
    """Encode a run of COMPLETE tiles laid out contiguously in the
    given arrays; ids arrive as one utf-8 buffer + per-id lengths.
    All per-feature byte work (geometry, tags, value dictionary)
    happens in vectorized passes across every tile, and the layer/tile
    wrapping is itself one vectorized record assembly.  Returns
    (uint8 buffer of all tiles, per-tile byte lengths, per-tile
    feature counts) — no per-tile Python at all; the Arrow fold slices
    the buffer via binary-array offsets."""
    n = len(px)
    k = len(tile_starts) - 1
    sizes = np.diff(tile_starts)
    within = np.arange(n, dtype=np.int64) - np.repeat(tile_starts[:-1], sizes)
    feats_buf, wlens = _point_feature_blobs(px, py, within + 1, within)
    vals_buf, vlens = _string_values_blob_np(id_data, id_lens)
    # per-tile byte lengths of both buffers
    f_lens = np.add.reduceat(wlens, tile_starts[:-1])
    v_lens = np.add.reduceat(vlens, tile_starts[:-1])
    # layer = 7802 | 0a len(name) name | feats | KEYS | values | 28 extent
    name_b = layer_name.encode("utf-8")
    prefix = b"\x78\x02\x0a" + kmvt.varint(len(name_b)) + name_b
    suffix = b"\x28" + kmvt.varint(extent)
    layer_lens = (len(prefix) + f_lens + len(_KEYS_BLOB)
                  + v_lens + len(suffix)).astype(np.uint64)
    llen_v = _varint_field(layer_lens)
    tiles_buf, tile_lens = _assemble_records(k, [
        b"\x1a", llen_v, prefix, (feats_buf, f_lens),
        _KEYS_BLOB, (vals_buf, v_lens), suffix])
    return tiles_buf, tile_lens, sizes


def _encode_tile_run(ids, px: np.ndarray, py: np.ndarray,
                     tile_starts: np.ndarray, metas,
                     layer_name: str, extent: int):
    """Row-tuple form of ``_encode_tile_run_parts`` for callers holding
    Python-string ids (``_finish_point_tile``), per-tile bytes objects."""
    n = len(px)
    k = len(metas)
    if n == 0 or k == 0:
        return []
    id_data, id_lens = _utf8_cat(ids)
    tiles_buf, tile_lens, sizes = _encode_tile_run_parts(
        id_data, id_lens, px, py, tile_starts, layer_name, extent)
    t_offs = np.zeros(k + 1, dtype=np.int64)
    np.cumsum(tile_lens, out=t_offs[1:])
    raw = tiles_buf.tobytes()
    return [(metas[t][0], metas[t][1], metas[t][2],
             raw[t_offs[t]:t_offs[t + 1]], int(sizes[t]), int(tile_lens[t]))
            for t in range(k)]


def _finish_point_tile(image_ids, px: np.ndarray, py: np.ndarray,
                       layer_name: str, extent: int) -> bytes:
    """Full tile bytes for n single-point features with
    props {"image_id": St <id>}; feature ids 1..n in the given order."""
    n = len(px)
    rows = _encode_tile_run(image_ids, np.asarray(px, dtype=np.float64),
                            np.asarray(py, dtype=np.float64),
                            np.array([0, n], dtype=np.int64), [(0, 0, 0)],
                            layer_name, extent)
    return rows[0][3]


# ---------------------------------------------------------------------------
# streaming fold over sorted partitions
# ---------------------------------------------------------------------------

def assemble_point_tiles_streaming(assigned: DataFrame, layer_name: str = "images",
                                   extent: int = 4096, quantize: int = 1,
                                   buffer: int = 128,
                                   num_partitions: Optional[int] = None) -> DataFrame:
    """assigned: rows with zoom/tile_x/tile_y/tile_key/x3857/y3857/image_id.

    Plan: project px/py (codegen) -> filter buffered window (codegen)
    -> repartition(tile_key) -> sortWithinPartitions -> mapInPandas
    streaming fold.  Peak Python memory is O(arrow batch + open tile
    accumulator), independent of tile size.
    """
    df = T.tile_local_px(assigned, extent, quantize)
    w = float(buffer)
    df = df.filter((F.col("px") >= -w) & (F.col("px") <= extent + w)
                   & (F.col("py") >= -w) & (F.col("py") <= extent + w))
    # shuffle ONLY (tile_key, image_id, px, py): zoom/tile_x/tile_y are
    # recoverable from tile_key bits, and at 10^12 rows the shuffle's
    # disk+network bytes are the scaling bottleneck (measured: cutting
    # these 24 bytes/row lifted 2->8-core encode scaling materially).
    # px/py ship as SHORT: the fold rounds to integer pixels anyway and
    # Spark's bround is HALF_EVEN = np.rint, so rounding before the
    # exchange is byte-identical (cross-strategy tests pin it) and cuts
    # another 12 bytes/row off the shuffle (guide §2.3 narrower types;
    # post-filter px/py lie in [-buffer, extent+buffer] ⊂ int16)
    df = df.select("tile_key", "image_id",
                   F.bround("px", 0).cast("short").alias("px"),
                   F.bround("py", 0).cast("short").alias("py"))
    if num_partitions:
        df = df.repartition(num_partitions, "tile_key")
    else:
        df = df.repartition("tile_key")
    df = df.sortWithinPartitions("tile_key", "image_id")
    return df.mapInArrow(point_tile_fold(layer_name, extent), TILE_SCHEMA)


def point_tile_fold(layer_name: str, extent: int):
    """The streaming fold behind ``assemble_point_tiles_streaming``,
    exposed at module level so the giant-tile bounded-memory stress
    test can drive it directly (fresh subprocess, true ru_maxrss) with
    synthetic Arrow record batches — the Spark path wraps exactly this
    generator in ``mapInArrow``.

    Arrow-native (round-6 optimization, guide §4.2): the sorted rows
    arrive as ``pyarrow.RecordBatch``es whose string column is already
    one contiguous utf-8 buffer + offsets, so no Python str object is
    ever created for an id, and the output binary column is built by
    ``Array.from_buffers`` over the single encoded tile buffer — no
    per-tile bytes slicing.  Peak memory is still O(batch + open
    tile)."""
    import pyarrow as pa

    out_schema = pa.schema([
        ("zoom", pa.int32()), ("tile_x", pa.int64()), ("tile_y", pa.int64()),
        ("mvt", pa.binary()), ("feature_count", pa.int64()),
        ("bytes_len", pa.int64())])

    def fold(batches: Iterator["pa.RecordBatch"]) -> Iterator["pa.RecordBatch"]:
        # pending = the (possibly batch-spanning) open tile at the tail
        pend_key = None
        pend_meta = None
        pend_idd: List[np.ndarray] = []   # utf-8 buffer pieces
        pend_idl: List[np.ndarray] = []   # per-id byte lengths
        pend_px: List[np.ndarray] = []
        pend_py: List[np.ndarray] = []

        def flush_pending():
            n = sum(len(a) for a in pend_idl)
            raw, tl, sz = _encode_tile_run_parts(
                np.concatenate(pend_idd), np.concatenate(pend_idl),
                np.concatenate(pend_px), np.concatenate(pend_py),
                np.array([0, n], dtype=np.int64), layer_name, extent)
            z, tx, ty = pend_meta
            return (raw, tl, sz, np.array([z], dtype=np.int64),
                    np.array([tx], dtype=np.int64),
                    np.array([ty], dtype=np.int64))

        def emit(segs):
            data = segs[0][0] if len(segs) == 1 else np.concatenate(
                [s[0] for s in segs])
            tl = np.concatenate([s[1] for s in segs])
            sz = np.concatenate([s[2] for s in segs])
            zs_o = np.concatenate([s[3] for s in segs])
            txs_o = np.concatenate([s[4] for s in segs])
            tys_o = np.concatenate([s[5] for s in segs])
            k = len(tl)
            offs = np.zeros(k + 1, dtype=np.int64)
            np.cumsum(tl, out=offs[1:])
            mvt = pa.Array.from_buffers(
                pa.binary(), k,
                [None, pa.py_buffer(offs.astype(np.int32)),
                 pa.py_buffer(np.ascontiguousarray(data))])
            return pa.RecordBatch.from_arrays(
                [pa.array(zs_o.astype(np.int32)), pa.array(txs_o),
                 pa.array(tys_o), mvt, pa.array(sz), pa.array(tl)],
                schema=out_schema)

        for rb in batches:
            if rb.num_rows == 0:
                continue
            cols = {name: rb.column(i)
                    for i, name in enumerate(rb.schema.names)}
            keys = cols["tile_key"].to_numpy()
            px = cols["px"].to_numpy()
            py = cols["py"].to_numpy()
            id_data, id_offs = _utf8_view(cols["image_id"])
            id_lens = np.diff(id_offs)
            # unpack (z, x, y) from the packed tile key (tiles.tile_key)
            zs = keys >> 56
            txs = (keys >> 28) & ((1 << 28) - 1)
            tys = keys & ((1 << 28) - 1)
            segs: List[tuple] = []
            change = np.nonzero(np.diff(keys))[0] + 1
            bounds = np.concatenate([[0], change, [len(keys)]]).astype(np.int64)
            n_runs = len(bounds) - 1  # runs: [bounds[i], bounds[i+1])
            merged_first = pend_key is not None and keys[0] == pend_key

            if merged_first:
                e0 = int(bounds[1])
                pend_idd.append(id_data[id_offs[0]:id_offs[e0]])
                pend_idl.append(id_lens[:e0])
                pend_px.append(px[:e0])
                pend_py.append(py[:e0])
                if n_runs > 1:  # a boundary follows -> pending tile is complete
                    segs.append(flush_pending())
                    pend_key, pend_idd, pend_idl = None, [], []
                    pend_px, pend_py = [], []
            elif pend_key is not None:
                segs.append(flush_pending())
                pend_key, pend_idd, pend_idl = None, [], []
                pend_px, pend_py = [], []

            # complete runs = all runs except the batch-tail run and any
            # merged first run
            c_lo = 1 if merged_first else 0
            c_hi = n_runs - 1  # exclusive of tail run
            if c_hi > c_lo:
                cs = bounds[c_lo:c_hi + 1]  # offsets incl. end of last complete
                lo, hi = int(cs[0]), int(cs[-1])
                raw, tl, sz = _encode_tile_run_parts(
                    id_data[id_offs[lo]:id_offs[hi]], id_lens[lo:hi],
                    px[lo:hi], py[lo:hi],
                    (cs - cs[0]).astype(np.int64), layer_name, extent)
                segs.append((raw, tl, sz, zs[cs[:-1]], txs[cs[:-1]],
                             tys[cs[:-1]]))

            # tail run opens (or keeps open) the pending tile
            t0 = int(bounds[-2])
            if not (merged_first and n_runs == 1):
                pend_key = keys[t0]
                pend_meta = (int(zs[t0]), int(txs[t0]), int(tys[t0]))
                pend_idd = [id_data[id_offs[t0]:id_offs[-1]]]
                pend_idl = [id_lens[t0:]]
                pend_px = [px[t0:]]
                pend_py = [py[t0:]]
            if segs:
                yield emit(segs)
        if pend_key is not None and pend_idl:
            yield emit([flush_pending()])

    return fold


INTEGRITY_SCHEMA = ("zoom int, tile_x long, tile_y long, mvt binary, "
                    "feature_count long, bytes_len long, "
                    "decoded_features long, bytes_crc32 long, decode_ok int")


def with_tile_integrity(tiles: DataFrame, layer_name: str = "images",
                        extent: int = 4096) -> DataFrame:
    """Append in-job self-verification columns to an assembled tile
    frame (the recall_e3 / raster parity_ok pattern, so the driver's
    rows-only check on ``mvt_encode`` carries its own proof):

    * ``decoded_features`` — feature count the kernel DECODER sees when
      the tile's protobuf bytes are parsed back (strict decoder:
      command validation, required fields, dictionary tags);
    * ``bytes_crc32``      — zlib.crc32 of the tile bytes (a stable
      content fingerprint of the whole wire image);
    * ``decode_ok``        — 1 iff the decode round-trip succeeded AND
      decoded_features == feature_count AND the decoded layer carries
      the expected name/extent/version=2.

    Runs as one Arrow-batched pass; decode cost is proportional to
    output bytes (same order as the encode itself), and the audit is a
    separate composable operator so production writers can skip it."""
    import zlib

    def audit(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            decoded = np.zeros(len(pdf), dtype=np.int64)
            crc = np.zeros(len(pdf), dtype=np.int64)
            ok = np.zeros(len(pdf), dtype=np.int32)
            for i, (buf, fc) in enumerate(zip(pdf["mvt"], pdf["feature_count"])):
                b = bytes(buf)
                crc[i] = zlib.crc32(b)
                try:
                    layers = kmvt.decode_tile(b)
                    layer = layers.get(layer_name)
                    if layer is None:
                        continue
                    decoded[i] = len(layer["features"])
                    ok[i] = int(decoded[i] == int(fc)
                                and layer["extent"] == extent
                                and layer["version"] == 2)
                except Exception:
                    # any decode failure (MvtError, truncated-buffer
                    # IndexError, bad utf-8, ...) is a failed audit,
                    # never a crashed one
                    pass
            out = pdf.copy()
            out["decoded_features"] = decoded
            out["bytes_crc32"] = crc
            out["decode_ok"] = ok
            yield out

    return tiles.mapInPandas(audit, INTEGRITY_SCHEMA)


# ---------------------------------------------------------------------------
# multi-layer composition: tile sets merge by BYTE concatenation
# ---------------------------------------------------------------------------

def merge_tile_layers(left: DataFrame, right: DataFrame) -> DataFrame:
    """Compose two encoded tile sets into multi-layer tiles: a tile's
    bytes are repeated protobuf field-3 (Layer) records, so per-cell
    layer composition is BINARY CONCATENATION — no decode, no
    re-encode, pure Column ops (the wire-format property
    ``kernel/mvt.py::encode_tile`` relies on; vector_tile.proto 2.1
    declares ``repeated Tile.Layer layers = 3``).

    Full-outer on the tile key: a cell present in either input emits a
    tile; missing sides contribute zero bytes.  Layer NAMES must be
    distinct between the inputs (the strict decoder rejects duplicate
    names per tile — test-asserted).

    Scale shape: one shuffle join on the tile key over two
    already-aggregated tile tables (one row per occupied tile each —
    at 100 TB these are ~10^8 rows of tile bytes, not raw rows).
    Output keeps TILE_SCHEMA; ``feature_count``/``bytes_len`` sum."""
    keys = ["zoom", "tile_x", "tile_y"]
    l = left.select(*keys, F.col("mvt").alias("_lm"),
                    F.col("feature_count").alias("_lc"),
                    F.col("bytes_len").alias("_lb"))
    r = right.select(*keys, F.col("mvt").alias("_rm"),
                     F.col("feature_count").alias("_rc"),
                     F.col("bytes_len").alias("_rb"))
    j = l.join(r, keys, "full_outer")
    empty = F.lit(b"")
    return j.select(
        *keys,
        F.concat(F.coalesce("_lm", empty),
                 F.coalesce("_rm", empty)).alias("mvt"),
        (F.coalesce("_lc", F.lit(0))
         + F.coalesce("_rc", F.lit(0))).alias("feature_count"),
        (F.coalesce("_lb", F.lit(0))
         + F.coalesce("_rb", F.lit(0))).alias("bytes_len"))


def tile_layer_stats(tiles: DataFrame) -> DataFrame:
    """Decode-back audit for (possibly multi-layer) tiles: layer
    count, total decoded features, and the sorted layer-name list —
    integer/string outputs, so a binary composition can sit under the
    driver's hash-exact oracle gate."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for z, tx, ty, mvt in zip(pdf["zoom"], pdf["tile_x"],
                                      pdf["tile_y"], pdf["mvt"]):
                layers = kmvt.decode_tile(bytes(mvt))
                rows.append((int(z), int(tx), int(ty), len(layers),
                             sum(len(v["features"]) for v in layers.values()),
                             ",".join(sorted(layers))))
            yield pd.DataFrame(rows, columns=[
                "zoom", "tile_x", "tile_y", "n_layers", "feature_count",
                "layer_names"])

    return tiles.select("zoom", "tile_x", "tile_y", "mvt").mapInPandas(
        stats, "zoom int, tile_x long, tile_y long, n_layers int, "
               "feature_count long, layer_names string")


# ---------------------------------------------------------------------------
# captioned point tiles: image_id + caption properties per feature
# ---------------------------------------------------------------------------
# The north-rule payload is (image, caption) pairs; these tiles carry
# the caption through to the wire so a consumer never re-joins the
# source table.  Kept SEPARATE from the byte-pinned single-property
# path above (driver-reference byte-identity tests pin that layout):
# same vectorized helpers, second key/value stream, per-tile
# first-seen caption dictionary (kernel/mvt.py DictStore semantics,
# Types.hs:49-50 St values).

_CAP_KEYS_BLOB = b"\x1a\x08image_id\x1a\x07caption"  # keys = [image_id, caption]


def _captioned_feature_blobs(px: np.ndarray, py: np.ndarray,
                             fids: np.ndarray, vidxs: np.ndarray,
                             capidxs: np.ndarray) -> tuple:
    """Feature messages with tags [0, vidx, 1, capidx] — the
    two-property twin of ``_point_feature_blobs``."""
    ix = np.rint(px).astype(np.int64)
    iy = np.rint(py).astype(np.int64)
    n = len(ix)
    zx = _varint_field(kmvt.zig(ix))
    zy = _varint_field(kmvt.zig(iy))
    geo_len = 1 + zx[1] + zy[1]
    fid = _varint_field(fids.astype(np.uint64))
    vidx = _varint_field(vidxs.astype(np.uint64))
    capv = _varint_field(capidxs.astype(np.uint64))
    tags_len = 1 + vidx[1] + 1 + capv[1]      # 00 vidx 01 capidx
    glen_v = _varint_field(geo_len.astype(np.uint64))
    tlen_v = _varint_field(tags_len.astype(np.uint64))
    # fused wrap (see _point_feature_blobs): feature length is known
    # analytically, so one assembly pass instead of assemble-then-rewrap
    feat_lens = (8 + fid[1] + tlen_v[1] + vidx[1] + capv[1]
                 + glen_v[1] + zx[1] + zy[1])
    flen_v = _varint_field(feat_lens.astype(np.uint64))
    return _assemble_records(n, [
        b"\x12", flen_v, b"\x08", fid, b"\x12", tlen_v, b"\x00", vidx,
        b"\x01", capv, b"\x18\x01\x22", glen_v, b"\x09", zx, zy])


def _encode_captioned_tile_run(ids, caps, px: np.ndarray, py: np.ndarray,
                               tile_starts: np.ndarray, metas,
                               layer_name: str, extent: int):
    """Captioned twin of ``_encode_tile_run``: per-tile value table is
    the n ids followed by the tile's FIRST-SEEN-deduped captions
    (``pd.factorize`` preserves first-seen order, matching the kernel
    DictStore), caption tag indexes offset by the tile's id count."""
    n = len(px)
    k = len(metas)
    if n == 0 or k == 0:
        return []
    sizes = np.diff(tile_starts)
    within = np.arange(n, dtype=np.int64) - np.repeat(tile_starts[:-1], sizes)
    capidx = np.empty(n, dtype=np.int64)
    all_vals: List = []
    v_counts = np.empty(k, dtype=np.int64)
    caps_arr = np.asarray(caps, dtype=object)
    for t in range(k):
        lo, hi = int(tile_starts[t]), int(tile_starts[t + 1])
        codes, uniques = pd.factorize(caps_arr[lo:hi])
        capidx[lo:hi] = sizes[t] + codes
        all_vals.extend(ids[lo:hi])
        all_vals.extend(uniques.tolist())
        v_counts[t] = sizes[t] + len(uniques)
    feats_buf, wlens = _captioned_feature_blobs(px, py, within + 1,
                                                within, capidx)
    vals_buf, vlens = _string_values_blob(all_vals)
    f_lens = np.add.reduceat(wlens, tile_starts[:-1])
    v_starts = np.zeros(k, dtype=np.int64)
    np.cumsum(v_counts[:-1], out=v_starts[1:])
    v_lens = np.add.reduceat(vlens, v_starts)
    name_b = layer_name.encode("utf-8")
    prefix = b"\x78\x02\x0a" + kmvt.varint(len(name_b)) + name_b
    suffix = b"\x28" + kmvt.varint(extent)
    layer_lens = (len(prefix) + f_lens + len(_CAP_KEYS_BLOB)
                  + v_lens + len(suffix)).astype(np.uint64)
    llen_v = _varint_field(layer_lens)
    tiles_buf, tile_lens = _assemble_records(k, [
        b"\x1a", llen_v, prefix, (feats_buf, f_lens),
        _CAP_KEYS_BLOB, (vals_buf, v_lens), suffix])
    t_offs = np.zeros(k + 1, dtype=np.int64)
    np.cumsum(tile_lens, out=t_offs[1:])
    raw = tiles_buf.tobytes()
    return [(metas[t][0], metas[t][1], metas[t][2],
             raw[t_offs[t]:t_offs[t + 1]], int(sizes[t]), int(tile_lens[t]))
            for t in range(k)]


def assemble_captioned_tiles_streaming(assigned: DataFrame,
                                       layer_name: str = "images",
                                       extent: int = 4096, quantize: int = 1,
                                       buffer: int = 128,
                                       num_partitions: Optional[int] = None
                                       ) -> DataFrame:
    """Captioned twin of ``assemble_point_tiles_streaming``: same
    sorted-partition fold shape (peak Python memory one Arrow batch +
    the open tile), shuffle payload (tile_key, image_id, caption, px,
    py)."""
    df = T.tile_local_px(assigned, extent, quantize)
    w = float(buffer)
    df = df.filter((F.col("px") >= -w) & (F.col("px") <= extent + w)
                   & (F.col("py") >= -w) & (F.col("py") <= extent + w))
    df = df.select("tile_key", "image_id", "caption", "px", "py")
    if num_partitions:
        df = df.repartition(num_partitions, "tile_key")
    else:
        df = df.repartition("tile_key")
    df = df.sortWithinPartitions("tile_key", "image_id")
    return df.mapInPandas(captioned_tile_fold(layer_name, extent),
                          TILE_SCHEMA)


def captioned_tile_fold(layer_name: str, extent: int):
    """Streaming fold for captioned tiles — mirrors ``point_tile_fold``
    (same run-boundary/carry logic) with the caption column threaded
    through; kept separate so the byte-pinned single-property fold
    never changes shape."""

    def fold(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pend_key = None
        pend_meta = None
        pend_ids: List = []
        pend_caps: List = []
        pend_px: List[np.ndarray] = []
        pend_py: List[np.ndarray] = []

        def flush_pending():
            n = len(pend_ids)
            rows = _encode_captioned_tile_run(
                pend_ids, pend_caps, np.concatenate(pend_px),
                np.concatenate(pend_py), np.array([0, n], dtype=np.int64),
                [pend_meta], layer_name, extent)
            return rows[0]

        cols = ["zoom", "tile_x", "tile_y", "mvt", "feature_count",
                "bytes_len"]
        for pdf in batches:
            if len(pdf) == 0:
                continue
            keys = pdf["tile_key"].to_numpy()
            px = pdf["px"].to_numpy(dtype=np.float64)
            py = pdf["py"].to_numpy(dtype=np.float64)
            ids = pdf["image_id"].to_numpy()
            caps = pdf["caption"].to_numpy()
            zs = keys >> 56
            txs = (keys >> 28) & ((1 << 28) - 1)
            tys = keys & ((1 << 28) - 1)
            rows: List[tuple] = []
            change = np.nonzero(np.diff(keys))[0] + 1
            bounds = np.concatenate([[0], change, [len(keys)]]).astype(np.int64)
            n_runs = len(bounds) - 1
            merged_first = pend_key is not None and keys[0] == pend_key

            if merged_first:
                e0 = int(bounds[1])
                pend_ids.extend(ids[:e0].tolist())
                pend_caps.extend(caps[:e0].tolist())
                pend_px.append(px[:e0])
                pend_py.append(py[:e0])
                if n_runs > 1:
                    rows.append(flush_pending())
                    pend_key, pend_ids, pend_caps = None, [], []
                    pend_px, pend_py = [], []
            elif pend_key is not None:
                rows.append(flush_pending())
                pend_key, pend_ids, pend_caps = None, [], []
                pend_px, pend_py = [], []

            c_lo = 1 if merged_first else 0
            c_hi = n_runs - 1
            if c_hi > c_lo:
                cs = bounds[c_lo:c_hi + 1]
                lo, hi = int(cs[0]), int(cs[-1])
                metas = list(zip(zs[cs[:-1]].tolist(), txs[cs[:-1]].tolist(),
                                 tys[cs[:-1]].tolist()))
                rows.extend(_encode_captioned_tile_run(
                    ids[lo:hi].tolist(), caps[lo:hi].tolist(),
                    px[lo:hi], py[lo:hi],
                    (cs - cs[0]).astype(np.int64), metas,
                    layer_name, extent))

            # tail run opens (or keeps open) the pending tile
            t0 = int(bounds[-2])
            if not (merged_first and n_runs == 1):
                pend_key = keys[t0]
                pend_meta = (int(zs[t0]), int(txs[t0]), int(tys[t0]))
                pend_ids = ids[t0:].tolist()
                pend_caps = caps[t0:].tolist()
                pend_px = [px[t0:]]
                pend_py = [py[t0:]]
            if rows:
                yield pd.DataFrame(rows, columns=cols)
        if pend_key is not None and pend_ids:
            yield pd.DataFrame([flush_pending()], columns=cols)

    return fold


def captioned_tile_stats(tiles: DataFrame,
                         layer_name: str = "images") -> DataFrame:
    """Decode-back audit for captioned tiles: per tile the feature
    count, the value-table length (== features + first-seen-distinct
    captions when the dictionary is correct), the distinct-caption
    count, and the total utf-8 caption bytes summed over FEATURES
    (resolved through the tag indexes, so a wrong dictionary index
    breaks the sum) — all integers, oracle-able."""

    def stats(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for z, tx, ty, mvt in zip(pdf["zoom"], pdf["tile_x"],
                                      pdf["tile_y"], pdf["mvt"]):
                layer = kmvt.decode_tile(bytes(mvt))[layer_name]
                caps = [f["metadata"]["caption"][1]
                        for f in layer["features"]]
                rows.append((int(z), int(tx), int(ty),
                             len(layer["features"]), len(layer["values"]),
                             len(set(caps)),
                             sum(len(c.encode("utf-8")) for c in caps)))
            yield pd.DataFrame(rows, columns=[
                "zoom", "tile_x", "tile_y", "feature_count", "n_values",
                "distinct_caps", "caption_bytes"])

    return tiles.select("zoom", "tile_x", "tile_y", "mvt").mapInPandas(
        stats, "zoom int, tile_x long, tile_y long, feature_count long, "
               "n_values long, distinct_caps long, caption_bytes long")
