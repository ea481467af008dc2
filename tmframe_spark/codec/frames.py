"""Pure-numpy TMFRAME frame codec — the single-node bit-exactness oracle.

Re-implements (from scratch, vectorized over struct-of-arrays instead of
per-record structs) the wire semantics of the reference frame codec:

- primary word: 61-bit nanosecond unix timestamp with the low 3 bits holding
  the PTI payload-type tag (reference: /root/reference/frame.go:88-117,
  README.md "TMFRAME" spec).
- PTI 0..7: Zero / OneInt64 / OneFloat64 / Two64 / NULL / NA / NaN / UDE
  (/root/reference/frame.go:25-34). NULL, NA and NaN are three *distinct*
  null-like values — kept as explicit tag values, never Spark NULLs.
- UDE descriptor word: high 21 bits = signed EVTNUM, low 43 bits = UCOUNT
  byte length of the variable payload, which is zero-terminated on the wire
  (/root/reference/frame.go:124-139, 355-445).
- wire sizes 8 / 16 / 24 / 16+UCOUNT bytes by PTI, little-endian integers and
  IEEE-754 float64 (/root/reference/frame.go:185-250).
- BLAKE2b-512 canonical hash for dedup: prim word + payload words + raw data
  WITHOUT the zero terminator (/root/reference/frame.go:532-564).

Everything the distributed (Spark) path encodes is verified bit-for-bit
against this module (the FramesEqual analog, /root/reference/frame.go:516-522).
"""

from __future__ import annotations

import hashlib
from dataclasses import dataclass

import numpy as np

# --- PTI: payload type indicator, low 3 bits of the primary word ----------
PTI_ZERO = 0  # just the 8-byte primary word; v0 implicitly 0.0
PTI_ONE_INT64 = 1  # + 8 bytes: v1 (stored in the ude slot)
PTI_ONE_FLOAT64 = 2  # + 8 bytes: v0
PTI_TWO64 = 3  # + 16 bytes: v0 then v1
PTI_NULL = 4  # intentional null (8 bytes total)
PTI_NA = 5  # missing observation (8 bytes total)
PTI_NAN = 6  # IEEE NaN marker (8 bytes total)
PTI_UDE = 7  # + 8-byte UDE descriptor + UCOUNT payload bytes

# --- evtnum namespace: 0-7 mirror PTI; >=8 / <=-1 ride in the UDE word ----
EV_ERR = -1
EV_ZERO, EV_ONE_INT64, EV_ONE_FLOAT64, EV_TWO64 = 0, 1, 2, 3
EV_NULL, EV_NA, EV_NAN, EV_UDE = 4, 5, 6, 7
EV_HEADER, EV_MSGPACK, EV_BINC, EV_CAPNP = 8, 9, 10, 11
EV_ZYGO, EV_UTF8, EV_JSON, EV_MSGP_KAFKA, EV_ZEBRAPACK = 12, 13, 14, 15, 16

# Engine-assigned user evtnums (negative = user-defined namespace,
# /root/reference/frame.go:341-353 allows [-1048576, 1048575]):
EV_BLOCK = -1000  # packed delta-of-delta + Gorilla compressed block payload
EV_TURN = -1001  # one transcript turn: UTF-8 text payload, role/tool in header

EVTNUM_MIN, EVTNUM_MAX = -1048576, 1048575
KEEP_LOW_43 = (1 << 43) - 1  # UCOUNT mask

_I64 = np.int64
_U64 = np.uint64


class EvtnumOutOfRangeError(ValueError):
    """evtnum outside [-1048576, 1048575] (frame.go:342-353)."""


class NoDataAllowedError(ValueError):
    """data supplied for an evtnum 0..6 that carries none (frame.go:333-336)."""


class DataTooBigError(ValueError):
    """payload over 2^43 - 1 bytes (frame.go:338-340)."""


@dataclass
class Frames:
    """Struct-of-arrays frame collection (columnar analog of []*Frame)."""

    prim: np.ndarray  # int64: (ts_ns & ~7) | pti
    v0: np.ndarray  # float64 payload (PTI 2, 3)
    ude: np.ndarray  # int64: v1 payload (PTI 1, 3) or UDE descriptor (PTI 7)
    data: list  # list[bytes] variable payloads (PTI 7 only; b"" otherwise)

    def __len__(self) -> int:
        return len(self.prim)

    def __getitem__(self, i):
        return (int(self.prim[i]), float(self.v0[i]), int(self.ude[i]), self.data[i])


_EVTNUM_NAMES = {
    -1: "EvErr", 0: "EvZero", 1: "EvOneInt64", 2: "EvOneFloat64", 3: "EvTwo64",
    4: "EvNull", 5: "EvNA", 6: "EvNaN", 7: "EvUDE", 8: "EvHeader",
    9: "EvMsgpack", 10: "EvBinc", 11: "EvCapnp", 12: "EvZygo", 13: "EvUtf8",
    14: "EvJson", 15: "EvMsgpKafka",
    # NOTE: deliberately no entry for 16 (EvZebraPack) — the reference's
    # Evtnum.String() switch has no case for it (frame.go:448-486) and
    # prints "Ev.16"; matched exactly for display fidelity.
}


def evtnum_name(ev: int) -> str:
    """Display name for an evtnum (Evtnum.String(), frame.go:448-486)."""
    return _EVTNUM_NAMES.get(int(ev), f"Ev.{int(ev)}")


def tm_ns(prim: np.ndarray) -> np.ndarray:
    """8ns-truncated timestamp: prim &^ 7 (frame.go:88-90)."""
    return np.asarray(prim, dtype=_I64) & _I64(-8)


def get_pti(prim: np.ndarray) -> np.ndarray:
    return (np.asarray(prim, dtype=_I64) & _I64(7)).astype(np.int8)


def get_evtnum(prim: np.ndarray, ude: np.ndarray) -> np.ndarray:
    """evtnum = pti for PTI != 7, else arithmetic ude >> 43 (frame.go:131-139)."""
    pti = np.asarray(prim, dtype=_I64) & _I64(7)
    shifted = np.asarray(ude, dtype=_I64) >> _I64(43)  # numpy >> on int64 sign-extends
    return np.where(pti == 7, shifted, pti).astype(np.int32)


def get_ucount(ude: np.ndarray) -> np.ndarray:
    return np.asarray(ude, dtype=_I64) & _I64(KEEP_LOW_43)


# PTI -> wire size for the fixed-size types (PTI 7 adds UCOUNT)
_SIZE_BY_PTI = np.array([8, 16, 16, 24, 8, 8, 8, 16], dtype=np.int64)


def frame_num_bytes(prim: np.ndarray, ude: np.ndarray) -> np.ndarray:
    """Wire size per frame (frame.go:185-212)."""
    pti = np.asarray(prim, dtype=_I64) & _I64(7)
    n = _SIZE_BY_PTI[pti]
    return np.where(pti == 7, n + get_ucount(ude), n)


def make_frames(ts_ns, evtnum, v0=None, v1=None, data=None) -> Frames:
    """Vectorized NewFrame (frame.go:361-445).

    ts_ns: int64 nanoseconds (truncated to 8ns); evtnum: int array;
    v0: float64 array; v1: int64 array; data: list[bytes] or None.
    evtnum 0-6 selects PTI directly; anything else (incl. EvUDE=7, EvErr=-1,
    user codes) becomes a PTI-7 UDE frame carrying `data`.
    """
    ts_ns = np.asarray(ts_ns, dtype=_I64)
    n = len(ts_ns)
    ev = np.asarray(evtnum, dtype=np.int64)
    if np.any((ev < EVTNUM_MIN) | (ev > EVTNUM_MAX)):
        raise EvtnumOutOfRangeError(
            f"evtnum out of range; min {EVTNUM_MIN}, max {EVTNUM_MAX}"
        )
    v0 = np.zeros(n) if v0 is None else np.asarray(v0, dtype=np.float64)
    v1 = np.zeros(n, dtype=_I64) if v1 is None else np.asarray(v1, dtype=_I64)
    data = [b""] * n if data is None else [bytes(d) if d else b"" for d in data]
    dlen = np.fromiter((len(d) for d in data), dtype=np.int64, count=n)
    if np.any(dlen > KEEP_LOW_43):
        raise DataTooBigError("data cannot be over 8TB - 1 byte")
    if np.any((dlen > 0) & (ev >= 0) & (ev < 7)):
        raise NoDataAllowedError("data must be empty for evtnum 0..6")

    # 8ns truncation. The reference uses `utm - (utm % 8)` in NewFrame and
    # `utm &^ 7` in Tm()/TimeToPrimTm — identical for the positive (post-1970)
    # timestamps this engine handles; we use the bitmask form throughout.
    mod = ts_ns & _I64(-8)
    is_plain = (ev >= 0) & (ev <= 6)
    pti = np.where(is_plain, ev, 7).astype(_I64)
    prim = mod | pti

    # UDE word: high 21 bits = evtnum two's-complement, low 43 = len(data)+1
    # (zero-terminator included in UCOUNT when data is non-empty).
    en = (ev.astype(_U64) & _U64(0x1FFFFF)) << _U64(43)
    ucount = np.where(dlen > 0, dlen + 1, 0).astype(_U64)
    ude_word = (en | ucount).astype(_U64).view(_I64)

    out_v0 = np.where((pti == PTI_ONE_FLOAT64) | (pti == PTI_TWO64), v0, 0.0)
    out_ude = np.where(
        (pti == PTI_ONE_INT64) | (pti == PTI_TWO64),
        v1,
        np.where(pti == PTI_UDE, ude_word, _I64(0)),
    )
    out_data = [d if p == PTI_UDE else b"" for d, p in zip(data, pti)]
    return Frames(prim=prim, v0=out_v0, ude=out_ude, data=out_data)


def marshal_frames(frames: Frames) -> bytes:
    """Vectorized Marshal of a frame sequence to one wire byte-stream
    (frame.go:218-250): little-endian words, zero-terminated UDE payloads."""
    prim = np.asarray(frames.prim, dtype=_I64)
    v0 = np.asarray(frames.v0, dtype=np.float64)
    ude = np.asarray(frames.ude, dtype=_I64)
    n = len(prim)
    if n == 0:
        return b""
    pti = prim & _I64(7)
    sizes = frame_num_bytes(prim, ude)
    offsets = np.zeros(n, dtype=np.int64)
    np.cumsum(sizes[:-1], out=offsets[1:])
    total = int(offsets[-1] + sizes[-1])
    out = np.zeros(total, dtype=np.uint8)

    span8 = np.arange(8, dtype=np.int64)

    # primary word at offset 0 of every frame
    out[offsets[:, None] + span8] = prim.astype("<i8").view(np.uint8).reshape(n, 8)

    # second word
    w2_mask = (pti == 1) | (pti == 2) | (pti == 3) | (pti == 7)
    if np.any(w2_mask):
        w2 = np.where(
            (pti == 2) | (pti == 3), v0.astype("<f8").view(_I64), ude
        ).astype("<i8")
        idx = offsets[w2_mask, None] + 8 + span8
        out[idx] = w2[w2_mask].view(np.uint8).reshape(-1, 8)

    # third word (Two64 only)
    w3_mask = pti == 3
    if np.any(w3_mask):
        idx = offsets[w3_mask, None] + 16 + span8
        out[idx] = ude[w3_mask].astype("<i8").view(np.uint8).reshape(-1, 8)

    # variable payloads (UDE with data): per-frame copy + zero terminator
    ude_data = np.flatnonzero((pti == 7) & (get_ucount(ude) > 0))
    for i in ude_data:
        d = frames.data[i]
        o = int(offsets[i]) + 16
        out[o : o + len(d)] = np.frombuffer(d, dtype=np.uint8)
        out[o + len(d)] = 0  # zero terminator, on the wire only
    return out.tobytes()


def marshal_each(frames: Frames) -> list[bytes]:
    """Marshal a frame batch ONCE and slice the stream back into one wire
    byte string per frame — the per-frame numpy ceremony of marshal_frames
    is paid per batch, not per frame."""
    wire = marshal_frames(frames)
    ends = np.cumsum(frame_num_bytes(frames.prim, frames.ude)).tolist()
    return [wire[s:e] for s, e in zip([0] + ends[:-1], ends)]


def unmarshal_frames(buf: bytes) -> Frames:
    """Parse a wire byte-stream back into struct-of-arrays (frame.go:262-325).

    Framing is sequentially dependent (UDE lengths), so a cheap Python walk
    computes offsets; word extraction is then fully vectorized.
    """
    raw = np.frombuffer(buf, dtype=np.uint8)
    nbuf = len(raw)
    offsets: list[int] = []
    sizes: list[int] = []
    o = 0
    while o < nbuf:
        if nbuf - o < 8:
            raise ValueError("data too short for a TMFRAME frame")
        p = int(raw[o]) & 7  # little-endian: low 3 bits live in the first byte
        size = int(_SIZE_BY_PTI[p])
        if p == PTI_UDE:
            if nbuf - o < 16:
                raise ValueError("data too short for UDE descriptor")
            ude = int(raw[o + 8 : o + 16].view("<i8")[0])
            size += ude & KEEP_LOW_43
        if nbuf - o < size:
            raise ValueError("data too short for frame payload")
        offsets.append(o)
        sizes.append(size)
        o += size

    n = len(offsets)
    offs = np.asarray(offsets, dtype=np.int64)
    span8 = np.arange(8, dtype=np.int64)
    prim = raw[offs[:, None] + span8].copy().view("<i8").ravel().astype(_I64)
    pti = prim & _I64(7)

    v0 = np.zeros(n, dtype=np.float64)
    ude = np.zeros(n, dtype=_I64)
    w2_mask = (pti == 1) | (pti == 2) | (pti == 3) | (pti == 7)
    if np.any(w2_mask):
        w2 = raw[offs[w2_mask, None] + 8 + span8].copy().view("<i8").ravel()
        f_mask = ((pti == 2) | (pti == 3))[w2_mask]
        i_mask = ((pti == 1) | (pti == 7))[w2_mask]
        tgt = np.flatnonzero(w2_mask)
        v0[tgt[f_mask]] = w2[f_mask].view(np.float64)
        ude[tgt[i_mask]] = w2[i_mask]
    w3_mask = pti == 3
    if np.any(w3_mask):
        w3 = raw[offs[w3_mask, None] + 16 + span8].copy().view("<i8").ravel()
        ude[w3_mask] = w3

    data: list[bytes] = [b""] * n
    for i in np.flatnonzero(pti == 7):
        ucount = int(ude[i]) & KEEP_LOW_43
        if ucount > 0:
            o = int(offs[i]) + 16
            # -1: the zero terminator only exists on the wire (frame.go:313)
            data[i] = raw[o : o + ucount - 1].tobytes()
    return Frames(prim=prim, v0=v0, ude=ude, data=data)


def frames_equal(a: Frames, b: Frames) -> bool:
    """Byte-for-byte wire equality (FramesEqual, frame.go:516-522)."""
    return marshal_frames(a) == marshal_frames(b)


def blake2b_frames(frames: Frames) -> list[bytes]:
    """64-byte BLAKE2b of each frame's canonical bytes (frame.go:532-564).

    Canonical form = wire words, but the UDE payload is hashed WITHOUT the
    zero terminator (the reference hashes f.Data directly).
    """
    prim = np.asarray(frames.prim, dtype=_I64)
    v0 = np.asarray(frames.v0, dtype=np.float64)
    ude = np.asarray(frames.ude, dtype=_I64)
    pti = prim & _I64(7)
    prim_b = prim.astype("<i8").tobytes()
    v0_b = v0.astype("<f8").tobytes()
    ude_b = ude.astype("<i8").tobytes()
    out = []
    for i in range(len(prim)):
        h = hashlib.blake2b(digest_size=64)
        h.update(prim_b[8 * i : 8 * i + 8])
        p = int(pti[i])
        if p == PTI_ONE_INT64 or p == PTI_UDE:
            h.update(ude_b[8 * i : 8 * i + 8])
        elif p == PTI_ONE_FLOAT64:
            h.update(v0_b[8 * i : 8 * i + 8])
        elif p == PTI_TWO64:
            h.update(v0_b[8 * i : 8 * i + 8])
            h.update(ude_b[8 * i : 8 * i + 8])
        if p == PTI_UDE:
            h.update(frames.data[i])
        out.append(h.digest())
    return out
