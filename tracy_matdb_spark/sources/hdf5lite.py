"""hdf5lite — pure-Python minimal HDF5, from the public file-format spec.

The image has no h5py/libhdf5, but the reference's native artifact is
``atoms.h5`` (matdb/io.py:442-509 writes nested groups of scalars /
ndarrays / utf-8 strings; atoms.py:366-404 reads them back).  This
module implements *enough of the public HDF5 File Format Specification
(Version 3.0, docs.hdfgroup.org)* to serialize and deserialize that
layout byte-for-byte compatibly with libhdf5, so the engine's HDF5
interop no longer needs the optional h5py gate.

Two writer dialects, one reader:

- ``dialect="v2"`` (default): the 1.8+ "latest" layout — superblock
  version 2, version-2 object headers (``OHDR``), compact groups via
  Link messages, version-3 attributes, fixed-length UTF-8 strings.
  Every v2 structure carries the spec's Jenkins lookup3 checksum.
- ``dialect="v0"``: the legacy layout libhdf5 1.8 emits by default —
  superblock version 0, version-1 object headers, old-style groups
  (v1 B-tree + local heap + SNOD symbol nodes), version-1 attributes,
  and variable-length strings stored in a global heap collection
  (``GCOL``) — the convention h5py uses for ``str`` data.

The reader consumes both dialects (plus a superset: dataspace v1/v2,
attribute v1/v2/v3, fixed-point of any size/either byte order, f32/f64,
enum bools, fixed and variable-length strings, compact / contiguous /
chunked layouts with the deflate filter).  Writing both dialects means
both reader paths are exercised by round-trip tests without libhdf5
present; files written here are readable by h5py and vice versa for
this subset.

Tree mapping (exactly `hdf5io._tree_to_h5`'s semantics, which mirror
the reference writer matdb/io.py:442-484):

- ``dict``  -> sub-group
- ``str``   -> string attribute
- ``bool``  -> attribute with libhdf5's enum-bool convention
              ({FALSE:0, TRUE:1} over int8)
- ``int``   -> int64 attribute,  ``float`` -> float64 attribute
- ``list``/``ndarray`` -> dataset (bool -> enum-bool, int -> int64,
  float -> float64, str -> fixed (v2) or variable-length (v0) string)

Deliberate cuts (raise cleanly, never misparse): shared/committed
datatypes, fractal-heap "dense" groups, v2 B-trees, filters other than
deflate, compound/array/reference datatypes, user-block offsets.
"""

from __future__ import annotations

import struct
import zlib
from typing import Any

import numpy as np

UNDEF = 0xFFFFFFFFFFFFFFFF

# message type ids (spec IV.A.2)
MSG_NIL = 0x00
MSG_DATASPACE = 0x01
MSG_LINK_INFO = 0x02
MSG_DATATYPE = 0x03
MSG_FILL_OLD = 0x04
MSG_FILL = 0x05
MSG_LINK = 0x06
MSG_LAYOUT = 0x08
MSG_GROUP_INFO = 0x0A
MSG_FILTER = 0x0B
MSG_ATTRIBUTE = 0x0C
MSG_CONTINUATION = 0x10
MSG_SYMBOL_TABLE = 0x11

_M32 = 0xFFFFFFFF


def _rot(x: int, k: int) -> int:
    return ((x << k) | (x >> (32 - k))) & _M32


def lookup3(data: bytes, init: int = 0) -> int:
    """Bob Jenkins' lookup3 ``hashlittle`` over bytes — the checksum the
    HDF5 spec mandates for v2 metadata (H5_checksum_lookup3).  The
    public-domain algorithm; zero-padding the sub-12-byte tail is
    equivalent to the original's length switch because the absent lanes
    contribute zero to the additions."""
    length = len(data)
    a = b = c = (0xDEADBEEF + length + init) & _M32
    i = 0
    while length - i > 12:
        a = (a + int.from_bytes(data[i : i + 4], "little")) & _M32
        b = (b + int.from_bytes(data[i + 4 : i + 8], "little")) & _M32
        c = (c + int.from_bytes(data[i + 8 : i + 12], "little")) & _M32
        a = (a - c) & _M32
        a ^= _rot(c, 4)
        c = (c + b) & _M32
        b = (b - a) & _M32
        b ^= _rot(a, 6)
        a = (a + c) & _M32
        c = (c - b) & _M32
        c ^= _rot(b, 8)
        b = (b + a) & _M32
        a = (a - c) & _M32
        a ^= _rot(c, 16)
        c = (c + b) & _M32
        b = (b - a) & _M32
        b ^= _rot(a, 19)
        a = (a + c) & _M32
        c = (c - b) & _M32
        c ^= _rot(b, 4)
        b = (b + a) & _M32
        i += 12
    tail = data[i:]
    if not tail:
        return c
    pad = tail + b"\0" * (12 - len(tail))
    a = (a + int.from_bytes(pad[0:4], "little")) & _M32
    b = (b + int.from_bytes(pad[4:8], "little")) & _M32
    c = (c + int.from_bytes(pad[8:12], "little")) & _M32
    # final()
    c ^= b
    c = (c - _rot(b, 14)) & _M32
    a ^= c
    a = (a - _rot(c, 11)) & _M32
    b ^= a
    b = (b - _rot(a, 25)) & _M32
    c ^= b
    c = (c - _rot(b, 16)) & _M32
    a ^= c
    a = (a - _rot(c, 4)) & _M32
    b ^= a
    b = (b - _rot(a, 14)) & _M32
    c ^= b
    c = (c - _rot(b, 24)) & _M32
    return c


# ---------------------------------------------------------------------------
# datatype / dataspace encodings (spec IV.A.2.d / IV.A.2.c)
# ---------------------------------------------------------------------------

DT_I64 = struct.pack("<B3BI", 0x10, 0x08, 0, 0, 8) + struct.pack("<HH", 0, 64)
DT_I8 = struct.pack("<B3BI", 0x10, 0x08, 0, 0, 1) + struct.pack("<HH", 0, 8)
DT_F64 = struct.pack("<B3BI", 0x11, 0x20, 0x3F, 0, 8) + struct.pack(
    "<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023
)
# enum bool over int8, version-3 datatype (names not padded): the
# {FALSE:0, TRUE:1} convention libhdf5/h5py use for numpy bools
DT_BOOL = (
    struct.pack("<B3BI", 0x38, 2, 0, 0, 1) + DT_I8 + b"FALSE\0TRUE\0" + struct.pack("<bb", 0, 1)
)
# variable-length string, utf-8, null-terminated; base = 1-byte string
DT_VLSTR = struct.pack("<B3BI", 0x19, 0x01, 0x01, 0, 16) + struct.pack(
    "<B3BI", 0x13, 0x00, 0, 0, 1
)


def _dt_fixed_str(width: int) -> bytes:
    """Fixed-length UTF-8 string, null-padded."""
    return struct.pack("<B3BI", 0x13, 0x11, 0, 0, max(1, width))


def _ds_v2(shape: tuple[int, ...] | None) -> bytes:
    """Dataspace message v2: None -> scalar, tuple -> simple."""
    if shape is None:
        return struct.pack("<BBBB", 2, 0, 0, 0)
    return struct.pack("<BBBB", 2, len(shape), 0, 1) + b"".join(
        struct.pack("<Q", d) for d in shape
    )


def _ds_v1(shape: tuple[int, ...] | None) -> bytes:
    """Dataspace message v1 (legacy dialect). A v1 dataspace has no
    scalar type code — rank 0 means scalar."""
    rank = 0 if shape is None else len(shape)
    out = struct.pack("<BBBB4x", 1, rank, 0, 0)
    for d in shape or ():
        out += struct.pack("<Q", d)
    return out


FILL_V2 = struct.pack("<BBBB", 2, 2, 2, 0)  # late alloc, undefined fill


# ---------------------------------------------------------------------------
# tree classification (mirrors hdf5io._tree_to_h5 / reference io.py:442-484)
# ---------------------------------------------------------------------------


def _classify(tree: dict[str, Any]):
    """Split a tree node into (sub-groups, attributes, datasets)."""
    groups: list[tuple[str, dict]] = []
    attrs: list[tuple[str, Any]] = []
    dsets: list[tuple[str, np.ndarray]] = []
    for k, v in tree.items():
        if isinstance(v, dict):
            groups.append((k, v))
        elif isinstance(v, (str, bool, np.bool_, int, float, np.integer, np.floating)):
            attrs.append((k, v))
        else:
            # string lists must become OBJECT arrays: numpy's fixed-width
            # U dtype is itself NUL-padded and silently strips trailing
            # '\x00' on item access (np.array(['\x00'])[0] == ''), which
            # would corrupt values before the codec ever sees them
            if isinstance(v, (list, tuple)) and any(isinstance(x, str) for x in v):
                dsets.append((k, np.array(list(v), dtype=object)))
            else:
                dsets.append((k, np.asarray(v)))
    return groups, attrs, dsets


def _reject_nul(strs) -> None:
    """Null-PADDED fixed-width strings (strpad=0) cannot represent a
    string containing '\\x00': trailing NULs are indistinguishable from
    padding on read (h5py has the identical limitation). Fail fast
    instead of silently truncating; dialect 'v0' (variable-length, with
    explicit stored lengths) round-trips NULs exactly."""
    for s in strs:
        if "\x00" in s:
            raise ValueError(
                "hdf5lite: embedded NUL in a string is not representable "
                "in null-padded fixed-width strings (dialect v1/v2); use "
                "dialect 'v0' (variable-length strings)"
            )


def _utf8(s: str) -> bytes:
    """Encode one HDF5 string payload. HDF5 strings are UTF-8 (cset=1);
    lone surrogates are not Unicode scalar values and have NO UTF-8
    form in ANY dialect — h5py raises the same way. Fail with a typed
    error instead of a raw UnicodeEncodeError from deep in the writer."""
    try:
        return s.encode("utf-8")
    except UnicodeEncodeError as exc:
        raise ValueError(
            "hdf5lite: string contains a lone surrogate (not a Unicode "
            "scalar value) — unrepresentable in HDF5 UTF-8 strings"
        ) from exc


def _encode_array(arr: np.ndarray, dialect: str, vl):
    """-> (datatype bytes, raw little-endian buffer, shape)."""
    if arr.dtype.kind == "b":
        return DT_BOOL, arr.astype("<i1").tobytes(), arr.shape
    if arr.dtype.kind in "iu":
        return DT_I64, arr.astype("<i8").tobytes(), arr.shape
    if arr.dtype.kind == "f":
        return DT_F64, arr.astype("<f8").tobytes(), arr.shape
    if arr.dtype.kind in "US" or arr.dtype.kind == "O":
        strs = [s if isinstance(s, str) else str(s) for s in arr.ravel().tolist()]
        if dialect == "v0":
            return DT_VLSTR, b"".join(vl(s) for s in strs), arr.shape
        _reject_nul(strs)
        enc = [_utf8(s) for s in strs]
        width = max((len(e) for e in enc), default=0) or 1
        return _dt_fixed_str(width), b"".join(e.ljust(width, b"\0") for e in enc), arr.shape
    raise TypeError(f"hdf5lite cannot encode dtype {arr.dtype!r}")


def _encode_attr(value: Any, dialect: str, vl):
    """-> (datatype bytes, raw buffer) for a scalar attribute."""
    if isinstance(value, (bool, np.bool_)):
        return DT_BOOL, struct.pack("<b", int(value))
    if isinstance(value, (int, np.integer)):
        return DT_I64, struct.pack("<q", int(value))
    if isinstance(value, (float, np.floating)):
        return DT_F64, struct.pack("<d", float(value))
    if isinstance(value, str):
        if dialect == "v0":
            return DT_VLSTR, vl(value)
        _reject_nul([value])
        enc = _utf8(value)
        return _dt_fixed_str(len(enc)), enc or b"\0"
    raise TypeError(f"hdf5lite cannot encode attribute {type(value)!r}")


# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


class _Buf:
    def __init__(self, reserve: int):
        self.b = bytearray(b"\0" * reserve)

    def put(self, data: bytes, align: int = 8) -> int:
        """Append at the next `align` boundary; return the address."""
        pad = (-len(self.b)) % align
        self.b += b"\0" * pad
        addr = len(self.b)
        self.b += data
        return addr


class _GlobalHeap:
    """One GCOL collection holding every VL string of the file (v0
    dialect).  Built before any object so its address is known when
    attribute/dataset payloads are encoded."""

    def __init__(self):
        self.items: list[bytes] = []
        self.addr = UNDEF

    def add(self, s: str) -> tuple[int, int]:
        self.items.append(_utf8(s))
        return len(self.items), len(self.items[-1])  # (1-based index, length)

    def render(self) -> bytes:
        body = b""
        for i, data in enumerate(self.items, start=1):
            body += struct.pack("<HH4xQ", i, 1, len(data))
            body += data + b"\0" * ((-len(data)) % 8)
        total = 16 + len(body) + 16  # header + objects + free-space marker
        out = b"GCOL" + struct.pack("<B3xQ", 1, total)
        out += body + struct.pack("<HH4xQ", 0, 0, 16)
        return out


def write_tree_bytes(tree: dict[str, Any], dialect: str = "v2", chunk_rows: int = 0) -> bytes:
    """Serialize a nested tree (see module docstring mapping) to HDF5
    file bytes in the chosen dialect.  ``chunk_rows`` > 0 stores
    non-VL datasets taller than that many rows as chunked +
    shuffle/deflate (first-axis chunks) instead of contiguous."""
    if dialect not in ("v0", "v2"):
        raise ValueError(f"unknown dialect {dialect!r}")
    if dialect == "v2":
        buf = _Buf(reserve=48)
        heap = None
        vlref = None
    else:
        buf = _Buf(reserve=96)
        heap = _GlobalHeap()
        _collect_vl(tree, heap)
        heap.addr = buf.put(heap.render())
        # _collect_vl walks the tree in the exact order the encoders
        # below consume VL strings, so occurrence i maps to heap
        # object i+1; the assert catches any walk-order drift.
        counter = iter(range(1, len(heap.items) + 1))

        def vlref(s: str) -> bytes:
            idx = next(counter)
            data = heap.items[idx - 1]
            assert data == _utf8(s), "VL walk-order drift"
            return struct.pack("<IQI", len(data), heap.addr, idx)

    root = _write_group(buf, tree, dialect, vlref, chunk_rows)
    if dialect == "v2":
        eof = len(buf.b)
        sb = b"\x89HDF\r\n\x1a\n" + struct.pack("<BBBB", 2, 8, 8, 0)
        sb += struct.pack("<QQQQ", 0, UNDEF, eof, root)
        sb += struct.pack("<I", lookup3(sb))
        buf.b[0:48] = sb
    else:
        eof = len(buf.b)
        sb = b"\x89HDF\r\n\x1a\n" + struct.pack("<BBBBB", 0, 0, 0, 0, 0)
        sb += struct.pack("<BBB", 8, 8, 0) + struct.pack("<HHI", 4, 16, 0)
        sb += struct.pack("<QQQQ", 0, UNDEF, eof, UNDEF)
        # root symbol-table entry: name offset 0, header addr, no cache
        sb += struct.pack("<QQII16x", 0, root, 0, 0)
        buf.b[0:96] = sb
    return bytes(buf.b)


def _collect_vl(tree: dict[str, Any], heap: _GlobalHeap) -> None:
    """Walk the tree in the exact order _write_group encodes payloads,
    registering every VL string occurrence (duplicates get their own
    heap object — simple and valid)."""
    groups, attrs, dsets = _classify(tree)
    for _, sub in groups:
        _collect_vl(sub, heap)
    for _, arr in dsets:
        if arr.dtype.kind in "USO":
            for s in arr.ravel().tolist():
                heap.add(s if isinstance(s, str) else str(s))
    for _, v in sorted(attrs):  # attr messages are encoded in sorted order
        if isinstance(v, str):
            heap.add(v)


def _write_group(buf: _Buf, tree: dict[str, Any], dialect: str, vl, chunk_rows: int = 0) -> int:
    groups, attrs, dsets = _classify(tree)
    children: list[tuple[str, int]] = []
    for name, sub in groups:
        children.append((name, _write_group(buf, sub, dialect, vl, chunk_rows)))
    for name, arr in dsets:
        children.append((name, _write_dataset(buf, arr, dialect, vl, chunk_rows)))
    attr_msgs = [_attr_message(n, v, dialect, vl) for n, v in sorted(attrs)]
    if dialect == "v2":
        msgs = [(MSG_LINK_INFO, struct.pack("<BBQQ", 0, 0, UNDEF, UNDEF))]
        for name, addr in sorted(children):
            enc = name.encode("utf-8")
            if len(enc) > 255:
                raise ValueError(f"link name too long: {name!r}")
            body = struct.pack("<BBBB", 1, 0x10, 1, len(enc)) + enc + struct.pack("<Q", addr)
            msgs.append((MSG_LINK, body))
        msgs += attr_msgs
        return buf.put(_ohdr_v2(msgs))
    # v0: old-style group — local heap + SNOD(s) + v1 B-tree
    heap_off: dict[str, int] = {}
    seg = bytearray(b"\0" * 8)  # reserve offset 0 for the empty name
    ordered = sorted(children)
    for name, _ in ordered:
        enc = name.encode("utf-8") + b"\0"
        heap_off[name] = len(seg)
        seg += enc + b"\0" * ((-len(enc)) % 8)
    seg_addr = buf.put(bytes(seg))
    lheap = b"HEAP" + struct.pack("<B3xQQQ", 0, len(seg), UNDEF, seg_addr)
    heap_addr = buf.put(lheap)
    snods: list[tuple[int, int]] = []  # (addr, first-name heap offset)
    for i in range(0, max(len(ordered), 1), 8):
        chunk = ordered[i : i + 8]
        body = b"SNOD" + struct.pack("<BBH", 1, 0, len(chunk))
        for name, addr in chunk:
            body += struct.pack("<QQII16x", heap_off[name], addr, 0, 0)
        snods.append((buf.put(body), heap_off[chunk[0][0]] if chunk else 0))
    if len(snods) > 32:
        raise ValueError("hdf5lite v0 groups support at most 256 links")
    bt = b"TREE" + struct.pack("<BBHQQ", 0, 0, len(snods), UNDEF, UNDEF)
    bt += struct.pack("<Q", 0)  # key 0: empty name (sorts first)
    for j, (addr, first_off) in enumerate(snods):
        if j > 0:
            bt += struct.pack("<Q", first_off)
        bt += struct.pack("<Q", addr)
    bt += struct.pack("<Q", heap_off[ordered[-1][0]] if ordered else 0)
    bt_addr = buf.put(bt)
    msgs = [(MSG_SYMBOL_TABLE, struct.pack("<QQ", bt_addr, heap_addr))] + attr_msgs
    return buf.put(_ohdr_v1(msgs))


def _write_dataset(buf: _Buf, arr: np.ndarray, dialect: str, vl, chunk_rows: int = 0) -> int:
    dt, raw, shape = _encode_array(arr, dialect, vl)
    msgs = [(MSG_DATASPACE, _ds_v2(shape) if dialect == "v2" else _ds_v1(shape)),
            (MSG_DATATYPE, dt), (MSG_FILL, FILL_V2)]
    itm = struct.unpack_from("<I", dt, 4)[0]
    if chunk_rows and shape and shape[0] > chunk_rows and raw and dt is not DT_VLSTR:
        layout, filt = _write_chunked(buf, raw, shape, itm, chunk_rows)
        msgs.append((MSG_FILTER, filt))
        msgs.append((MSG_LAYOUT, layout))
    elif raw:
        data_addr = buf.put(raw)
        msgs.append((MSG_LAYOUT, struct.pack("<BBQQ", 3, 1, data_addr, len(raw))))
    else:  # empty dataset: contiguous, unallocated
        msgs.append((MSG_LAYOUT, struct.pack("<BBQQ", 3, 1, UNDEF, 0)))
    return buf.put(_ohdr_v2(msgs) if dialect == "v2" else _ohdr_v1(msgs))


def _write_chunked(buf: _Buf, raw: bytes, shape: tuple[int, ...], itm: int, chunk_rows: int):
    """Chunked layout along the first axis with the shuffle + deflate
    filter pipeline and a single-level v1 chunk B-tree — the layout
    libhdf5 emits for ``compression='gzip', shuffle=True`` datasets.
    Edge chunks are stored full-size, zero-padded (spec: chunks are
    always whole)."""
    rank = len(shape)
    cdims = (chunk_rows,) + tuple(shape[1:])
    row_bytes = itm * int(np.prod(shape[1:], dtype=np.int64)) if rank > 1 else itm
    chunk_bytes = chunk_rows * row_bytes
    entries = []
    for i0 in range(0, shape[0], chunk_rows):
        piece = raw[i0 * row_bytes : (i0 + chunk_rows) * row_bytes]
        piece = piece.ljust(chunk_bytes, b"\0")
        shuffled = np.frombuffer(piece, dtype=np.uint8).reshape(-1, itm).T.tobytes()
        comp = zlib.compress(shuffled, 6)
        addr = buf.put(comp)
        offsets = (i0,) + (0,) * (rank - 1) + (0,)  # + element dim
        entries.append((len(comp), offsets, addr))
    bt = b"TREE" + struct.pack("<BBHQQ", 1, 0, len(entries), UNDEF, UNDEF)
    for csize, offsets, addr in entries:
        bt += struct.pack("<II", csize, 0) + b"".join(struct.pack("<Q", o) for o in offsets)
        bt += struct.pack("<Q", addr)
    # final key: one past the last chunk (libhdf5 convention; readers skip)
    end_off = (((shape[0] + chunk_rows - 1) // chunk_rows) * chunk_rows,) + (0,) * rank
    bt += struct.pack("<II", 0, 0) + b"".join(struct.pack("<Q", o) for o in end_off)
    bt_addr = buf.put(bt)
    layout = struct.pack("<BBB", 3, 2, rank + 1) + struct.pack("<Q", bt_addr)
    layout += b"".join(struct.pack("<I", d) for d in cdims) + struct.pack("<I", itm)
    # pipeline v1: shuffle then deflate (applied in order on write)
    filt = struct.pack("<BBH4x", 1, 2, 0)
    filt += struct.pack("<HHHH", 2, 0, 0, 1) + struct.pack("<I", itm) + b"\0" * 4
    filt += struct.pack("<HHHH", 1, 0, 0, 1) + struct.pack("<I", 6) + b"\0" * 4
    return layout, filt


def _attr_message(name: str, value: Any, dialect: str, vl) -> tuple[int, bytes]:
    dt, data = _encode_attr(value, dialect, vl)
    ds = _ds_v2(None) if dialect == "v2" else _ds_v1(None)
    enc = name.encode("utf-8") + b"\0"
    if dialect == "v2":
        body = struct.pack("<BBHHHB", 3, 0, len(enc), len(dt), len(ds), 1)
        body += enc + dt + ds + data
    else:
        body = struct.pack("<BBHHH", 1, 0, len(enc), len(dt), len(ds))
        body += enc + b"\0" * ((-len(enc)) % 8)
        body += dt + b"\0" * ((-len(dt)) % 8)
        body += ds + b"\0" * ((-len(ds)) % 8)
        body += data
    return (MSG_ATTRIBUTE, body)


def _ohdr_v2(msgs: list[tuple[int, bytes]]) -> bytes:
    body = b"".join(
        struct.pack("<BHB", t, len(m), 0) + m for t, m in msgs
    )
    out = b"OHDR" + struct.pack("<BBI", 2, 0x02, len(body)) + body
    return out + struct.pack("<I", lookup3(out))


def _ohdr_v1(msgs: list[tuple[int, bytes]]) -> bytes:
    body = b""
    for t, m in msgs:
        padded = m + b"\0" * ((-len(m)) % 8)
        body += struct.pack("<HHB3x", t, len(padded), 0) + padded
    # 12-byte prefix + 4 pad so message headers sit on 8-byte boundaries
    return struct.pack("<BxHII4x", 1, len(msgs), 1, len(body)) + body


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------


class _File:
    def __init__(self, data: bytes):
        self.d = data

    def u(self, off: int, n: int) -> int:
        return int.from_bytes(self.d[off : off + n], "little")


def read_tree_bytes(data: bytes) -> dict[str, Any]:
    """Parse HDF5 file bytes -> nested tree (both dialects; see module
    docstring for the supported subset)."""
    if data[:8] != b"\x89HDF\r\n\x1a\n":
        raise ValueError("not an HDF5 file (signature mismatch; user-block offsets unsupported)")
    f = _File(data)
    ver = data[8]
    if ver in (0, 1):
        if f.u(13, 1) != 8 or f.u(14, 1) != 8:
            raise ValueError("hdf5lite supports 8-byte offsets/lengths only")
        ste = 56 if ver == 0 else 60  # v1 inserts 2+2 bytes before flags
        root = f.u(ste + 8, 8)
    elif ver in (2, 3):
        if f.u(9, 1) != 8 or f.u(10, 1) != 8:
            raise ValueError("hdf5lite supports 8-byte offsets/lengths only")
        if f.u(44, 4) != lookup3(data[:44]):
            raise ValueError("superblock checksum mismatch (truncated/corrupt file)")
        root = f.u(36, 8)
    else:
        raise ValueError(f"unsupported superblock version {ver}")
    return _read_object(f, root)


def _read_messages(f: _File, addr: int) -> list[tuple[int, int, int]]:
    """-> [(type, body offset, body size)] for either header version."""
    out = []
    if f.d[addr : addr + 4] == b"OHDR":
        ver, flags = f.d[addr + 4], f.d[addr + 5]
        if ver != 2:
            raise ValueError(f"unsupported OHDR version {ver}")
        pos = addr + 6
        if flags & 0x20:
            pos += 8  # timestamps
        if flags & 0x10:
            pos += 4  # attribute phase-change
        size_bytes = 1 << (flags & 0x03)
        chunk0 = f.u(pos, size_bytes)
        pos += size_bytes
        end = pos + chunk0
        if end + 4 > len(f.d) or f.u(end, 4) != lookup3(f.d[addr:end]):
            raise ValueError("object header checksum mismatch (truncated/corrupt file)")
        track = bool(flags & 0x04)
        while pos + 4 <= end:
            mtype = f.d[pos]
            msize = f.u(pos + 1, 2)
            pos += 4 + (2 if track else 0)
            if mtype == MSG_CONTINUATION:
                raise ValueError("hdf5lite: v2 continuation blocks unsupported")
            out.append((mtype, pos, msize))
            pos += msize
        return out
    if f.d[addr] != 1:
        raise ValueError(f"unrecognized object header at {addr}")
    nmsgs = f.u(addr + 2, 2)
    blocks = [(addr + 16, f.u(addr + 8, 4))]
    seen = 0
    while blocks and seen < nmsgs:
        pos, length = blocks.pop(0)
        end = pos + length
        while pos + 8 <= end and seen < nmsgs:
            mtype = f.u(pos, 2)
            msize = f.u(pos + 2, 2)
            mflags = f.d[pos + 4]
            body = pos + 8
            if mflags & 0x02:
                raise ValueError("hdf5lite: shared messages unsupported")
            if mtype == MSG_CONTINUATION:
                blocks.append((f.u(body, 8), f.u(body + 8, 8)))
            elif mtype != MSG_NIL:
                out.append((mtype, body, msize))
            seen += 1
            pos = body + msize
    return out


def _read_object(f: _File, addr: int) -> Any:
    msgs = _read_messages(f, addr)
    types = {t for t, _, _ in msgs}
    node: dict[str, Any] = {}
    for t, off, size in msgs:
        if t == MSG_ATTRIBUTE:
            name, value = _read_attribute(f, off)
            node[name] = value
    if MSG_SYMBOL_TABLE in types:
        (off,) = [o for t, o, _ in msgs if t == MSG_SYMBOL_TABLE]
        bt_addr, heap_addr = f.u(off, 8), f.u(off + 8, 8)
        for name, child in _walk_group_btree(f, bt_addr, heap_addr):
            node[name] = _read_object(f, child)
        return node
    if MSG_LINK in types:
        for t, off, size in msgs:
            if t == MSG_LINK:
                name, child = _read_link(f, off)
                if child is not None:
                    node[name] = _read_object(f, child)
        return node
    if MSG_DATATYPE in types and MSG_DATASPACE in types:
        return _read_dataset(f, msgs)
    return node  # attribute-only node (empty group)


def _read_link(f: _File, off: int):
    ver, flags = f.d[off], f.d[off + 1]
    if ver != 1:
        raise ValueError(f"unsupported link message version {ver}")
    pos = off + 2
    ltype = 0
    if flags & 0x08:
        ltype = f.d[pos]
        pos += 1
    if flags & 0x04:
        pos += 8  # creation order
    if flags & 0x10:
        pos += 1  # charset
    nlen = f.u(pos, 1 << (flags & 0x03))
    pos += 1 << (flags & 0x03)
    name = f.d[pos : pos + nlen].decode("utf-8")
    pos += nlen
    if ltype != 0:
        return name, None  # soft/external links: skip
    return name, f.u(pos, 8)


def _heap_name(f: _File, heap_addr: int, offset: int) -> str:
    if f.d[heap_addr : heap_addr + 4] != b"HEAP":
        raise ValueError("bad local heap signature")
    seg = f.u(heap_addr + 24, 8)
    end = f.d.index(b"\0", seg + offset)
    return f.d[seg + offset : end].decode("utf-8")


def _walk_group_btree(f: _File, bt_addr: int, heap_addr: int):
    if f.d[bt_addr : bt_addr + 4] != b"TREE":
        raise ValueError("bad v1 B-tree signature")
    level = f.d[bt_addr + 5]
    n = f.u(bt_addr + 6, 2)
    pos = bt_addr + 24  # skip siblings
    pos += 8  # key 0
    for _ in range(n):
        child = f.u(pos, 8)
        pos += 16  # child + next key
        if level > 0:
            yield from _walk_group_btree(f, child, heap_addr)
            continue
        if f.d[child : child + 4] != b"SNOD":
            raise ValueError("bad SNOD signature")
        count = f.u(child + 6, 2)
        for i in range(count):
            e = child + 8 + 40 * i
            yield _heap_name(f, heap_addr, f.u(e, 8)), f.u(e + 8, 8)


# --- datatype decoding ------------------------------------------------------


def _parse_datatype(f: _File, off: int) -> dict[str, Any]:
    cv = f.d[off]
    cls, ver = cv & 0x0F, cv >> 4
    bits = f.d[off + 1 : off + 4]
    size = f.u(off + 4, 4)
    dt: dict[str, Any] = {"class": cls, "size": size, "end": off + 8}
    if cls == 0:  # fixed-point
        dt["order"] = ">" if bits[0] & 1 else "<"
        dt["signed"] = bool(bits[0] & 0x08)
        dt["end"] = off + 12
    elif cls == 1:  # float
        dt["order"] = ">" if bits[0] & 1 else "<"
        dt["end"] = off + 20
    elif cls == 3:  # fixed string
        dt["charset"] = (bits[0] >> 4) & 0x0F
    elif cls == 8:  # enum
        base = _parse_datatype(f, off + 8)
        nmem = bits[0] | (bits[1] << 8)
        names = []
        pos = base["end"]
        for _ in range(nmem):
            end = f.d.index(b"\0", pos)
            names.append(f.d[pos:end].decode("ascii"))
            if ver >= 3:  # v3: names packed back-to-back
                pos = end + 1
            else:  # v1/v2: each name null-padded to a multiple of 8
                pos += ((end - pos) // 8 + 1) * 8
        dt.update(base=base, names=names, values_off=pos, nmem=nmem)
        dt["end"] = pos + nmem * base["size"]
    elif cls == 9:  # variable-length
        dt["vl_type"] = bits[0] & 0x0F
    return dt


def _read_gheap_object(f: _File, addr: int, index: int) -> bytes:
    if f.d[addr : addr + 4] != b"GCOL":
        raise ValueError("bad global heap signature")
    total = f.u(addr + 8, 8)
    pos = addr + 16
    end = addr + total
    while pos + 16 <= end:
        idx = f.u(pos, 2)
        size = f.u(pos + 8, 8)
        if idx == index:
            return f.d[pos + 16 : pos + 16 + size]
        if idx == 0:
            break
        pos += 16 + size + ((-size) % 8)
    raise KeyError(f"global heap object {index} not found")


def _decode(f: _File, dt: dict[str, Any], raw: bytes, shape: tuple[int, ...] | None):
    cls = dt["class"]
    count = 1 if shape is None else int(np.prod(shape, dtype=np.int64))
    if cls == 0:
        kind = "i" if dt["signed"] else "u"
        arr = np.frombuffer(raw, dtype=f"{dt['order']}{kind}{dt['size']}", count=count)
        arr = arr.astype(np.int64)
    elif cls == 1:
        arr = np.frombuffer(raw, dtype=f"{dt['order']}f{dt['size']}", count=count)
        arr = arr.astype(np.float64)
    elif cls == 3:
        w = dt["size"]
        vals = [raw[i * w : (i + 1) * w].rstrip(b"\0").decode("utf-8") for i in range(count)]
        return vals[0] if shape is None else np.array(vals, dtype=object).reshape(shape).tolist()
    elif cls == 8:
        base = dict(dt["base"])
        vals = _decode(f, base, raw, shape)
        is_bool = sorted(dt["names"]) == ["FALSE", "TRUE"]
        if shape is None:
            return bool(vals) if is_bool else vals
        a = np.asarray(vals)
        return (a.astype(bool) if is_bool else a).reshape(shape).tolist()
    elif cls == 9:
        if dt.get("vl_type") != 1:
            raise ValueError("hdf5lite: VL sequences (non-string) unsupported")
        vals = []
        for i in range(count):
            rec = raw[i * 16 : (i + 1) * 16]
            n, addr, idx = struct.unpack("<IQI", rec)
            vals.append(_read_gheap_object(f, addr, idx)[:n].decode("utf-8"))
        return vals[0] if shape is None else np.array(vals, dtype=object).reshape(shape).tolist()
    else:
        raise ValueError(f"hdf5lite: datatype class {cls} unsupported")
    if shape is None:
        return arr[0].item()
    return arr.reshape(shape).tolist()


def _parse_dataspace(f: _File, off: int) -> tuple[int, ...] | None:
    ver = f.d[off]
    if ver == 1:
        rank = f.d[off + 1]
        dims_off = off + 8
    elif ver == 2:
        rank = f.d[off + 1]
        if f.d[off + 3] == 0:  # scalar
            return None
        if f.d[off + 3] == 2:  # null
            return (0,)
        dims_off = off + 4
    else:
        raise ValueError(f"unsupported dataspace version {ver}")
    if ver == 1 and rank == 0:
        return None
    return tuple(f.u(dims_off + 8 * i, 8) for i in range(rank))


def _read_attribute(f: _File, off: int) -> tuple[str, Any]:
    ver = f.d[off]
    if ver == 1:
        nsize, dtsize, dssize = struct.unpack_from("<HHH", f.d, off + 2)
        pos = off + 8
        name = f.d[pos : pos + nsize].split(b"\0")[0].decode("utf-8")
        pos += nsize + ((-nsize) % 8)
        dt = _parse_datatype(f, pos)
        pos += dtsize + ((-dtsize) % 8)
        shape = _parse_dataspace(f, pos)
        pos += dssize + ((-dssize) % 8)
    elif ver in (2, 3):
        nsize, dtsize, dssize = struct.unpack_from("<HHH", f.d, off + 2)
        pos = off + (9 if ver == 3 else 8)
        name = f.d[pos : pos + nsize].split(b"\0")[0].decode("utf-8")
        pos += nsize
        dt = _parse_datatype(f, pos)
        pos += dtsize
        shape = _parse_dataspace(f, pos)
        pos += dssize
    else:
        raise ValueError(f"unsupported attribute version {ver}")
    count = 1 if shape is None else int(np.prod(shape, dtype=np.int64))
    raw = f.d[pos : pos + count * dt["size"]]
    return name, _decode(f, dt, raw, shape)


def _read_dataset(f: _File, msgs: list[tuple[int, int, int]]):
    dt = shape = layout = filters = None
    for t, off, size in msgs:
        if t == MSG_DATATYPE:
            dt = _parse_datatype(f, off)
        elif t == MSG_DATASPACE:
            shape = _parse_dataspace(f, off)
        elif t == MSG_LAYOUT:
            layout = off
        elif t == MSG_FILTER:
            filters = _parse_filters(f, off)
    count = 1 if shape is None else int(np.prod(shape, dtype=np.int64))
    nbytes = count * dt["size"]
    ver = f.d[layout]
    if ver != 3:
        raise ValueError(f"unsupported data layout version {ver}")
    cls = f.d[layout + 1]
    if cls == 0:  # compact
        sz = f.u(layout + 2, 2)
        raw = f.d[layout + 4 : layout + 4 + sz]
    elif cls == 1:  # contiguous
        addr = f.u(layout + 2, 8)
        sz = f.u(layout + 10, 8)
        raw = b"\0" * nbytes if addr == UNDEF else f.d[addr : addr + sz]
        if addr == UNDEF and count == 0:
            raw = b""
    elif cls == 2:  # chunked
        raw = _read_chunked(f, layout, dt, shape, filters)
    else:
        raise ValueError(f"unsupported layout class {cls}")
    return _decode(f, dt, raw, shape)


def _parse_filters(f: _File, off: int) -> list[tuple[int, list[int]]]:
    ver = f.d[off]
    nf = f.d[off + 1]
    pos = off + (8 if ver == 1 else 2)
    out = []
    for _ in range(nf):
        fid = f.u(pos, 2)
        namelen = f.u(pos + 2, 2)
        ncv = f.u(pos + 6, 2)
        pos += 8
        if ver == 1:
            pos += namelen + ((-namelen) % 8)
        else:
            pos += namelen
        cvs = [f.u(pos + 4 * i, 4) for i in range(ncv)]
        pos += 4 * ncv
        if ver == 1 and ncv % 2 == 1:
            pos += 4
        out.append((fid, cvs))
    return out


def _read_chunked(f: _File, layout: int, dt, shape, filters) -> bytes:
    """Assemble a chunked dataset: walk the v1 chunk B-tree (node type
    1), undo the filter pipeline per chunk (deflate / shuffle), and
    copy each chunk into place, clipping edge chunks that extend past
    the dataspace bounds."""
    rank = f.d[layout + 2] - 1  # stored dimensionality includes element dim
    bt_addr = f.u(layout + 3, 8)
    cdims = tuple(f.u(layout + 11 + 4 * i, 4) for i in range(rank))
    itm = dt["size"]
    # target viewed with the last axis scaled to bytes
    arrbytes = bytearray(int(np.prod(shape, dtype=np.int64)) * itm)
    tshape = [d * itm if i == rank - 1 else d for i, d in enumerate(shape)]
    cshape = [cd * itm if i == rank - 1 else cd for i, cd in enumerate(cdims)]
    tview = np.frombuffer(memoryview(arrbytes), dtype=np.uint8).reshape(tshape)
    tview.flags.writeable = True

    def visit(addr: int):
        if f.d[addr : addr + 4] != b"TREE" or f.d[addr + 4] != 1:
            raise ValueError("bad chunk B-tree node")
        level = f.d[addr + 5]
        n = f.u(addr + 6, 2)
        pos = addr + 24
        for _ in range(n):
            csize = f.u(pos, 4)
            offsets = tuple(f.u(pos + 8 + 8 * i, 8) for i in range(rank))
            child = f.u(pos + 8 + 8 * (rank + 1), 8)
            pos += 8 + 8 * (rank + 1) + 8
            if level > 0:
                visit(child)
                continue
            raw = f.d[child : child + csize]
            for fid, _cvs in reversed(filters or []):
                if fid == 1:
                    raw = zlib.decompress(raw)
                elif fid == 2:  # shuffle: de-interleave byte planes
                    a = np.frombuffer(raw, dtype=np.uint8)
                    raw = a.reshape(itm, -1).T.tobytes()
                else:
                    raise ValueError(f"hdf5lite: filter id {fid} unsupported")
            cview = np.frombuffer(raw, dtype=np.uint8).reshape(cshape)
            want = [min(cd, shape[i] - offsets[i]) for i, cd in enumerate(cdims)]
            src = tuple(
                slice(0, want[i] * (itm if i == rank - 1 else 1)) for i in range(rank)
            )
            dst = tuple(
                slice(
                    offsets[i] * (itm if i == rank - 1 else 1),
                    (offsets[i] + want[i]) * (itm if i == rank - 1 else 1),
                )
                for i in range(rank)
            )
            tview[dst] = cview[src]

    visit(bt_addr)
    return bytes(arrbytes)
