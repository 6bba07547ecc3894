"""A minimal protobuf reader for Mapbox Vector Tiles, written from the
MVT 2.1 specification and independent of ``zellige_spark.kernel.mvt``.

Only what the checks need: layers, features (id, tags, type, decoded
geometry), keys, values (string / int / double / bool) and extent.
"""

from __future__ import annotations


class MvtFormatError(ValueError):
    pass


def _varint(buf: bytes, i: int):
    shift = 0
    out = 0
    while True:
        if i >= len(buf):
            raise MvtFormatError("truncated varint")
        b = buf[i]
        i += 1
        out |= (b & 0x7F) << shift
        if b < 0x80:
            return out, i
        shift += 7
        if shift > 63:
            raise MvtFormatError("varint too long")


def fields(buf: bytes):
    """Yield (field number, wire type, value) for one message; value is
    an int for wire type 0 and the payload bytes for wire type 2."""
    i = 0
    while i < len(buf):
        key, i = _varint(buf, i)
        num, wire = key >> 3, key & 7
        if wire == 0:
            v, i = _varint(buf, i)
        elif wire == 2:
            n, i = _varint(buf, i)
            if i + n > len(buf):
                raise MvtFormatError("truncated field")
            v = buf[i:i + n]
            i += n
        elif wire == 1:
            v = buf[i:i + 8]
            i += 8
        elif wire == 5:
            v = buf[i:i + 4]
            i += 4
        else:
            raise MvtFormatError(f"wire type {wire}")
        yield num, wire, v


def packed(buf: bytes) -> list:
    out = []
    i = 0
    while i < len(buf):
        v, i = _varint(buf, i)
        out.append(v)
    return out


def _unzig(n: int) -> int:
    return (n >> 1) ^ -(n & 1)


def geometry(ints: list) -> list:
    """Decode a command stream into a list of paths; each path is a list
    of (x, y) absolute tile coordinates.  A MoveTo starts a new path;
    ClosePath is recorded by repeating the path's first vertex."""
    paths = []
    x = y = 0
    i = 0
    while i < len(ints):
        cmd, count = ints[i] & 7, ints[i] >> 3
        i += 1
        if cmd == 1 or cmd == 2:
            for _ in range(count):
                if i + 1 >= len(ints):
                    raise MvtFormatError("truncated geometry")
                x += _unzig(ints[i])
                y += _unzig(ints[i + 1])
                i += 2
                if cmd == 1:
                    paths.append([(x, y)])
                else:
                    if not paths:
                        raise MvtFormatError("LineTo before MoveTo")
                    paths[-1].append((x, y))
        elif cmd == 7:
            if not paths:
                raise MvtFormatError("ClosePath before MoveTo")
            paths[-1].append(paths[-1][0])
        else:
            raise MvtFormatError(f"command {cmd}")
    return paths


def _value(buf: bytes):
    import struct

    for num, wire, v in fields(buf):
        if num == 1:
            return v.decode("utf-8")
        if num == 2:
            return struct.unpack("<f", v)[0]
        if num == 3:
            return struct.unpack("<d", v)[0]
        if num in (4, 5):
            return v if v < (1 << 63) else v - (1 << 64)
        if num == 6:
            return _unzig(v)
        if num == 7:
            return bool(v)
    raise MvtFormatError("empty value")


def decode(tile: bytes) -> dict:
    """{layer name: {"extent", "version", "keys", "values", "features"}};
    each feature is {"id", "tags", "type", "paths", "props"}."""
    layers = {}
    for num, wire, payload in fields(tile):
        if num != 3 or wire != 2:
            raise MvtFormatError(f"tile field {num}")
        layer = {"extent": 4096, "version": 1, "keys": [], "values": [],
                 "features": [], "name": None}
        raw_feats = []
        for lnum, lwire, v in fields(payload):
            if lnum == 1:
                layer["name"] = v.decode("utf-8")
            elif lnum == 2:
                raw_feats.append(v)
            elif lnum == 3:
                layer["keys"].append(v.decode("utf-8"))
            elif lnum == 4:
                layer["values"].append(_value(v))
            elif lnum == 5:
                layer["extent"] = v
            elif lnum == 15:
                layer["version"] = v
        for fb in raw_feats:
            feat = {"id": None, "tags": [], "type": 0, "paths": []}
            for fnum, fwire, v in fields(fb):
                if fnum == 1:
                    feat["id"] = v
                elif fnum == 2:
                    feat["tags"] = packed(v)
                elif fnum == 3:
                    feat["type"] = v
                elif fnum == 4:
                    feat["paths"] = geometry(packed(v))
            tags = feat["tags"]
            if len(tags) % 2:
                raise MvtFormatError("odd tag count")
            feat["props"] = {layer["keys"][tags[j]]: layer["values"][tags[j + 1]]
                             for j in range(0, len(tags), 2)}
            layer["features"].append(feat)
        layers[layer["name"]] = layer
    return layers


def ring_area(ring) -> float:
    """Surveyor's formula over a closed ring in tile coordinates (y
    down), as the MVT spec states it: positive for an exterior ring."""
    s = 0
    for (x0, y0), (x1, y1) in zip(ring[:-1], ring[1:]):
        s += x0 * y1 - x1 * y0
    return s / 2.0
