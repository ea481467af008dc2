"""Payload codecs for UDE frames: msgpack + JSON + UTF-8 render registry.

The reference renders variable-length UDE payloads in its display path
(/root/reference/display.go:35-77): EvJson and evtnums 2000..9999 are
printed as JSON verbatim, EvMsgpack/EvMsgpKafka are msgpack-decoded and
re-encoded as JSON; everything else (including EvUtf8) prints nothing. Its own test corpus is
msgpack-family LogEntry frames (/root/reference/testdata/logentry.go:9-13).

This module implements a from-scratch msgpack codec (public spec:
https://github.com/msgpack/msgpack/blob/master/spec.md — format constants
only; no code consulted) sufficient for the reference's payload family:
nil/bool/int/float/str/bin/array/map, canonical smallest-width encoding.
Pure stdlib (struct) so it runs inside executor-side pandas UDFs with no
extra wheels.

``PAYLOAD_DECODERS`` is the evtnum -> render registry (SURVEY §2.8): given
the raw payload bytes, produce the display string the reference would print
next to Frame.String().
"""

from __future__ import annotations

import json
import struct

# ---------------------------------------------------------------------------
# msgpack encode
# ---------------------------------------------------------------------------


def mp_encode(obj) -> bytes:
    """Canonical (smallest-width) msgpack encoding of a Python value.

    Supported: None, bool, int, float, str, bytes, list/tuple, dict
    (insertion order preserved — msgpack maps are ordered on the wire).
    """
    out = bytearray()
    _enc(obj, out)
    return bytes(out)


def _enc(o, out: bytearray) -> None:
    if o is None:
        out.append(0xC0)
    elif o is True:
        out.append(0xC3)
    elif o is False:
        out.append(0xC2)
    elif isinstance(o, int):
        _enc_int(o, out)
    elif isinstance(o, float):
        out.append(0xCB)
        out += struct.pack(">d", o)
    elif isinstance(o, str):
        b = o.encode("utf-8")
        n = len(b)
        if n < 32:
            out.append(0xA0 | n)
        elif n < 0x100:
            out += struct.pack(">BB", 0xD9, n)
        elif n < 0x10000:
            out += struct.pack(">BH", 0xDA, n)
        else:
            out += struct.pack(">BI", 0xDB, n)
        out += b
    elif isinstance(o, (bytes, bytearray)):
        n = len(o)
        if n < 0x100:
            out += struct.pack(">BB", 0xC4, n)
        elif n < 0x10000:
            out += struct.pack(">BH", 0xC5, n)
        else:
            out += struct.pack(">BI", 0xC6, n)
        out += bytes(o)
    elif isinstance(o, (list, tuple)):
        n = len(o)
        if n < 16:
            out.append(0x90 | n)
        elif n < 0x10000:
            out += struct.pack(">BH", 0xDC, n)
        else:
            out += struct.pack(">BI", 0xDD, n)
        for x in o:
            _enc(x, out)
    elif isinstance(o, dict):
        n = len(o)
        if n < 16:
            out.append(0x80 | n)
        elif n < 0x10000:
            out += struct.pack(">BH", 0xDE, n)
        else:
            out += struct.pack(">BI", 0xDF, n)
        for k, v in o.items():
            _enc(k, out)
            _enc(v, out)
    else:
        raise TypeError(f"msgpack: unsupported type {type(o).__name__}")


def _enc_int(i: int, out: bytearray) -> None:
    if i >= 0:
        if i < 0x80:
            out.append(i)  # positive fixint
        elif i < 0x100:
            out += struct.pack(">BB", 0xCC, i)
        elif i < 0x10000:
            out += struct.pack(">BH", 0xCD, i)
        elif i < 0x100000000:
            out += struct.pack(">BI", 0xCE, i)
        else:
            out += struct.pack(">BQ", 0xCF, i)
    else:
        if i >= -32:
            out.append(i & 0xFF)  # negative fixint
        elif i >= -0x80:
            out += struct.pack(">Bb", 0xD0, i)
        elif i >= -0x8000:
            out += struct.pack(">Bh", 0xD1, i)
        elif i >= -0x80000000:
            out += struct.pack(">Bi", 0xD2, i)
        else:
            out += struct.pack(">Bq", 0xD3, i)


# ---------------------------------------------------------------------------
# msgpack decode
# ---------------------------------------------------------------------------

def mp_decode(buf: bytes):
    """Decode one msgpack value; raises ValueError on trailing bytes or
    truncation."""
    try:
        v, off = _dec(memoryview(buf), 0)
    except (IndexError, struct.error) as e:
        raise ValueError(f"msgpack: truncated input ({e})") from e
    if off != len(buf):
        raise ValueError(f"msgpack: {len(buf) - off} trailing bytes")
    return v


def _dec(b: memoryview, o: int):
    t = b[o]
    o += 1
    if t < 0x80:  # positive fixint
        return t, o
    if t >= 0xE0:  # negative fixint
        return t - 0x100, o
    if 0x80 <= t <= 0x8F:  # fixmap
        return _dec_map(b, o, t & 0x0F)
    if 0x90 <= t <= 0x9F:  # fixarray
        return _dec_arr(b, o, t & 0x0F)
    if 0xA0 <= t <= 0xBF:  # fixstr
        n = t & 0x1F
        return str(b[o : o + n], "utf-8"), o + n
    if t == 0xC0:
        return None, o
    if t == 0xC2:
        return False, o
    if t == 0xC3:
        return True, o
    if t in (0xC4, 0xC5, 0xC6):  # bin 8/16/32
        w = 1 << (t - 0xC4)
        n = int.from_bytes(b[o : o + w], "big")
        o += w
        return bytes(b[o : o + n]), o + n
    if t == 0xCA:
        return struct.unpack_from(">f", b, o)[0], o + 4
    if t == 0xCB:
        return struct.unpack_from(">d", b, o)[0], o + 8
    if t in (0xCC, 0xCD, 0xCE, 0xCF):  # uint 8/16/32/64
        w = 1 << (t - 0xCC)
        return int.from_bytes(b[o : o + w], "big"), o + w
    if t in (0xD0, 0xD1, 0xD2, 0xD3):  # int 8/16/32/64
        w = 1 << (t - 0xD0)
        return int.from_bytes(b[o : o + w], "big", signed=True), o + w
    if t in (0xD9, 0xDA, 0xDB):  # str 8/16/32
        w = 1 << (t - 0xD9)
        n = int.from_bytes(b[o : o + w], "big")
        o += w
        return str(b[o : o + n], "utf-8"), o + n
    if t in (0xDC, 0xDD):  # array 16/32
        w = 2 << (t - 0xDC)
        n = int.from_bytes(b[o : o + w], "big")
        return _dec_arr(b, o + w, n)
    if t in (0xDE, 0xDF):  # map 16/32
        w = 2 << (t - 0xDE)
        n = int.from_bytes(b[o : o + w], "big")
        return _dec_map(b, o + w, n)
    raise ValueError(f"msgpack: unsupported type byte 0x{t:02x}")


def _dec_arr(b: memoryview, o: int, n: int):
    out = []
    for _ in range(n):
        v, o = _dec(b, o)
        out.append(v)
    return out, o


def _dec_map(b: memoryview, o: int, n: int):
    out = {}
    for _ in range(n):
        k, o = _dec(b, o)
        v, o = _dec(b, o)
        out[k] = v
    return out, o


# ---------------------------------------------------------------------------
# evtnum -> payload render registry (display.go:41-76 conventions)
# ---------------------------------------------------------------------------


def _to_json(obj) -> str:
    """Compact JSON with msgpack map order preserved (the reference
    re-encodes the decoded interface{} with a JSON handle the same way)."""
    return json.dumps(obj, separators=(",", ":"), ensure_ascii=False)


def render_msgpack(payload: bytes) -> str:
    return _to_json(mp_decode(payload))


def render_json(payload: bytes) -> str:
    return payload.decode("utf-8")


#: evtnum -> payload renderer, EXACTLY the cases the reference display path
#: prints (display.go:41-76): EvMsgpack/EvMsgpKafka -> msgpack-to-JSON,
#: EvJson -> verbatim. 2000..9999 are handled by range in render_payload
#: (display.go:43). Deliberately NO EvUtf8 entry — display.go has no case
#: for it and prints nothing. EvZebraPack needs the compiled-in app schema
#: (the reference requires one too) and is documented out of scope.
#: render_payload derives from this dict so the two cannot disagree.
PAYLOAD_DECODERS = {
    9: render_msgpack,  # EvMsgpack
    14: render_json,  # EvJson
    15: render_msgpack,  # EvMsgpKafka
}


#: the reference test corpus's LogEntry zid->name mapping
#: (/root/reference/testdata/logentry.go:9-13 zid/msg struct tags)
LOGENTRY_SCHEMA = {0: "lsn", 1: "op", 2: "args"}


def render_zebrapack(payload: bytes, field_names: dict[int, str]) -> str:
    """ZebraPack-with-schema rendering: ZebraPack serializes a struct as a
    msgpack map keyed by the integer ``zid`` field numbers; the schema
    supplies the field names (the reference's ZebraToMsgp2 + CopyToJSON
    pipeline, display.go:63-74 — which likewise requires a compiled-in
    schema). Unknown field numbers render as ``zid<N>``."""
    v = mp_decode(payload)
    if isinstance(v, dict):
        v = {
            (field_names.get(k, f"zid{k}") if isinstance(k, int) else k): x
            for k, x in v.items()
        }
    return _to_json(v)


def register_zebrapack_schema(field_names: dict[int, str], evtnum: int = 16) -> None:
    """Install a ZebraPack renderer for ``evtnum`` (default EvZebraPack=16)
    into the display registry — the analog of compiling the app schema into
    the reference's tfcat binary. Without registration, EvZebraPack payloads
    print nothing (exactly as a schema-less reference build would fail)."""
    PAYLOAD_DECODERS[int(evtnum)] = lambda p: render_zebrapack(p, field_names)


def render_payload(evtnum: int, payload: bytes) -> str | None:
    """Display-path payload rendering: the string tfcat would append after
    Frame.String(), or None when the reference prints nothing."""
    ev = int(evtnum)
    if 2000 <= ev <= 9999:
        return render_json(payload)
    fn = PAYLOAD_DECODERS.get(ev)
    return fn(payload) if fn else None
