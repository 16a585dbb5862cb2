"""Vectorized proto wire codec for the FIXED message shapes on the
engine's hot boundaries (guide §4.2 — batch the native work; the
crc32c_many lockstep template applied to varints and length-delimited
fields).

The generic ``protowire.encode_message`` / ``decode_message`` walk a Spec
per row in interpreted Python; on the TFRecord parity path that loop is
the dominant per-task cost after the r13 CRC vectorization. This module
encodes/decodes a whole Arrow batch in numpy LOCKSTEP:

  * varint sizes come from 9 vectorized threshold compares,
  * varint bytes are written k-th-byte-at-a-time across all rows
    (max 10 passes — the crc32c_many discipline),
  * string payloads move via ONE gather/scatter index pass over a
    concatenated buffer (no per-row copies),
  * nested-message lengths are computed bottom-up as plain integer
    vector arithmetic (canonical proto3 layout is deterministic, so
    every tag position is a closed-form offset).

Bit-exactness contract: ``encode_bidlog_rows`` equals
``encode_message(row_to_bidlog(row), BID_LOG)`` per row, byte for byte
(pinned by tests/test_wirevec.py against random + adversarial rows).
``decode_bidlog_rows`` fast-parses the CANONICAL layout (any field
optionally absent, tags in canonical order — what protobuf-java and this
engine both emit) and hands every row it cannot prove canonical to the
scalar parser, so malformed-drop semantics are literally the scalar
path's.
"""

from __future__ import annotations

from typing import Any

import numpy as np

# ---------------------------------------------------------------------------
# lockstep primitives


_U7 = [np.uint64(1) << np.uint64(7 * k) for k in range(1, 10)]


def varint_sizes(vals: np.ndarray) -> np.ndarray:
    """Encoded byte count of each uint64 varint (1..10), vectorized."""
    vals = vals.astype(np.uint64, copy=False)
    size = np.ones(len(vals), np.int64)
    for t in _U7:
        size += (vals >= t).astype(np.int64)
    return size


def put_varints(
    out: np.ndarray, offs: np.ndarray, vals: np.ndarray, sizes: np.ndarray
) -> None:
    """Write each vals[i] as a varint at out[offs[i]:offs[i]+sizes[i]] —
    k-th byte of every row per pass (lockstep), max 10 passes."""
    if not len(vals):
        return
    vals = vals.astype(np.uint64, copy=False)
    maxs = int(sizes.max())
    for k in range(maxs):
        active = sizes > k
        b = ((vals[active] >> np.uint64(7 * k)) & np.uint64(0x7F)).astype(
            np.uint8
        )
        b |= (sizes[active] > k + 1).astype(np.uint8) << np.uint8(7)
        out[offs[active] + k] = b


def scatter_bytes(
    out: np.ndarray,
    dst_offs: np.ndarray,
    blob: np.ndarray,
    src_offs: np.ndarray,
    lens: np.ndarray,
) -> None:
    """Copy blob[src_offs[i] : +lens[i]] to out[dst_offs[i] : +lens[i]]
    for all i in ONE vectorized gather/scatter (zero-length rows no-op)."""
    total = int(lens.sum())
    if total == 0:
        return
    rep = np.repeat(np.arange(len(lens), dtype=np.int64), lens)
    within = np.arange(total, dtype=np.int64) - np.repeat(
        np.cumsum(lens) - lens, lens
    )
    out[dst_offs[rep] + within] = blob[src_offs[rep] + within]


def concat_blob(chunks: list[bytes]) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """(uint8 buffer, start offsets, lengths) of the concatenation."""
    n = len(chunks)
    lens = np.fromiter(map(len, chunks), np.int64, n)
    blob = np.frombuffer(b"".join(chunks), np.uint8) if n else np.zeros(0, np.uint8)
    starts = np.cumsum(lens) - lens
    return blob, starts, lens


def _str_bytes(col) -> list[bytes]:
    """UTF-8 bytes per cell; None encodes like "" (both are falsy to the
    scalar encoder, which omits the field either way)."""
    return [b"" if v is None else v.encode("utf-8") for v in col]


def _int_u64(col) -> np.ndarray | None:
    """Signed ints as their two's-complement uint64 wire value (what
    _write_varint's ``value &= (1 << 64) - 1`` produces); None when the
    column is not clean integers (caller falls back to the scalar path)."""
    arr = np.asarray(col)
    if not np.issubdtype(arr.dtype, np.integer):
        return None
    return arr.astype(np.int64, copy=False).view(np.uint64)


# ---------------------------------------------------------------------------
# BidLog encode (canonical layout; see protowire.BID_LOG field numbers)

# tags, precomputed: (field_no << 3 | wire_type)
_T_BR = 0x0A        # BidLog.bid_request (1, LEN)
_T_EXCH = 0x10      # BidLog.exchange (2, VARINT)
_T_RECV = 0x18      # BidLog.received_at (3)
_T_PROC = 0x20      # BidLog.processed_at (4)
_T_RES = 0x28       # BidLog.bid_result (5)
_T_PRICE = 0x30     # BidLog.bid_price (6)
_T_ID = 0x0A        # BidRequest.id (1, LEN)
_T_APP = 0x22       # BidRequest.app (4, LEN)
_T_DEV = 0x2A       # BidRequest.device (5, LEN)
_T_BUNDLE = 0x42    # App.bundle (8, LEN)
_T_GEO = 0x22       # Device.geo (4, LEN)
_T_OS = 0x72        # Device.os (14, LEN)
_T_IFA = (0xA2, 0x01)  # Device.ifa (20, LEN) — 2-byte tag varint
_T_COUNTRY = 0x1A   # Geo.country (3, LEN)
_T_REGION = 0x22    # Geo.region (4, LEN)


class _Writer:
    """Per-batch output buffer with a per-row cursor."""

    def __init__(self, row_sizes: np.ndarray) -> None:
        self.starts = np.cumsum(row_sizes) - row_sizes
        self.out = np.zeros(int(row_sizes.sum()), np.uint8)
        self.cur = self.starts.copy()

    def tag(self, tag: int | tuple[int, ...], mask: np.ndarray) -> None:
        tags = (tag,) if isinstance(tag, int) else tag
        offs = self.cur[mask]
        for i, tb in enumerate(tags):
            self.out[offs + i] = tb
        self.cur[mask] += len(tags)

    def varint(self, vals: np.ndarray, mask: np.ndarray) -> None:
        v = vals[mask]
        sz = varint_sizes(v)
        put_varints(self.out, self.cur[mask], v, sz)
        self.cur[mask] += sz

    def raw(
        self,
        blob: np.ndarray,
        src: np.ndarray,
        lens: np.ndarray,
        mask: np.ndarray,
    ) -> None:
        scatter_bytes(
            self.out, self.cur[mask], blob, src[mask], lens[mask]
        )
        self.cur[mask] += lens[mask]

    def rows(self, row_sizes: np.ndarray) -> list[bytes]:
        buf = self.out.tobytes()
        ends = self.starts + row_sizes
        return [
            buf[a:b] for a, b in zip(self.starts.tolist(), ends.tolist())
        ]


def _len_field(taglen: int, lens: np.ndarray) -> np.ndarray:
    """Size of an optional length-delimited field: 0 when empty (the
    scalar encoder omits falsy strings), else tag + len-varint + payload."""
    return np.where(lens > 0, taglen + varint_sizes(lens) + lens, 0)


def _int_field(vals_u64: np.ndarray) -> np.ndarray:
    """Size of an optional varint field (1-byte tag): 0 when the value is
    0 (scalar encoder omits falsy ints)."""
    return np.where(vals_u64 != 0, 1 + varint_sizes(vals_u64), 0)


def encode_bidlog_rows(pdf) -> list[bytes] | None:
    """Whole-batch BidLog wire encode, byte-identical to
    ``encode_message(row_to_bidlog(rec), BID_LOG)`` per record. Returns
    None when a column is not cleanly typed (caller uses the scalar
    path so error semantics stay exactly the scalar encoder's)."""
    n = len(pdf)
    if n == 0:
        return []
    ints = {}
    for c in ("exchange", "received_at", "processed_at", "bid_result", "bid_price"):
        u = _int_u64(pdf[c])
        if u is None:
            return None
        ints[c] = u
    id_blob, id_src, id_len = concat_blob(_str_bytes(pdf["bid_id"]))
    bu_blob, bu_src, bu_len = concat_blob(_str_bytes(pdf["app_bundle"]))
    os_blob, os_src, os_len = concat_blob(_str_bytes(pdf["device_os"]))
    ifa_blob, ifa_src, ifa_len = concat_blob(_str_bytes(pdf["device_ifa"]))
    co_blob, co_src, co_len = concat_blob(_str_bytes(pdf["geo_country"]))
    re_blob, re_src, re_len = concat_blob(_str_bytes(pdf["geo_region"]))

    # bottom-up submessage lengths (row_to_bidlog always builds the
    # nested dicts, so the scalar encoder emits every submessage tag even
    # with an empty body — the geo/app/device/bid_request fields are
    # therefore unconditionally present)
    geo_len = _len_field(1, co_len) + _len_field(1, re_len)
    dev_len = (
        (1 + varint_sizes(geo_len) + geo_len)
        + _len_field(1, os_len)
        + _len_field(2, ifa_len)
    )
    app_len = _len_field(1, bu_len)
    br_len = (
        _len_field(1, id_len)
        + (1 + varint_sizes(app_len) + app_len)
        + (1 + varint_sizes(dev_len) + dev_len)
    )
    row_sizes = (1 + varint_sizes(br_len) + br_len)
    for c in ("exchange", "received_at", "processed_at", "bid_result", "bid_price"):
        row_sizes = row_sizes + _int_field(ints[c])

    w = _Writer(row_sizes)
    every = np.ones(n, bool)
    w.tag(_T_BR, every)
    w.varint(br_len, every)
    m = id_len > 0
    w.tag(_T_ID, m)
    w.varint(id_len, m)
    w.raw(id_blob, id_src, id_len, m)
    w.tag(_T_APP, every)
    w.varint(app_len, every)
    m = bu_len > 0
    w.tag(_T_BUNDLE, m)
    w.varint(bu_len, m)
    w.raw(bu_blob, bu_src, bu_len, m)
    w.tag(_T_DEV, every)
    w.varint(dev_len, every)
    w.tag(_T_GEO, every)
    w.varint(geo_len, every)
    m = co_len > 0
    w.tag(_T_COUNTRY, m)
    w.varint(co_len, m)
    w.raw(co_blob, co_src, co_len, m)
    m = re_len > 0
    w.tag(_T_REGION, m)
    w.varint(re_len, m)
    w.raw(re_blob, re_src, re_len, m)
    m = os_len > 0
    w.tag(_T_OS, m)
    w.varint(os_len, m)
    w.raw(os_blob, os_src, os_len, m)
    m = ifa_len > 0
    w.tag(_T_IFA, m)
    w.varint(ifa_len, m)
    w.raw(ifa_blob, ifa_src, ifa_len, m)
    for c, t in (
        ("exchange", _T_EXCH),
        ("received_at", _T_RECV),
        ("processed_at", _T_PROC),
        ("bid_result", _T_RES),
        ("bid_price", _T_PRICE),
    ):
        v = ints[c]
        m = v != 0
        w.tag(t, m)
        w.varint(v, m)
    return w.rows(row_sizes)


# ---------------------------------------------------------------------------
# BidLog decode (canonical-layout fast parse + scalar fallback)


def _expand(mask: np.ndarray, sub: np.ndarray) -> np.ndarray:
    """Lift a boolean over mask's True rows back to full row space."""
    out = np.zeros(len(mask), bool)
    out[np.nonzero(mask)[0][sub]] = True
    return out


class _Reader:
    """Lockstep cursor over the concatenation of all record payloads.
    Rows that deviate from the canonical layout flip ``bad`` and are
    excluded from every later step (the caller re-parses them through
    the scalar decoder for its exact error/drop semantics)."""

    def __init__(self, payloads: list[bytes]) -> None:
        blob, starts, lens = concat_blob(payloads)
        # one pad byte so data[pos] never indexes past the end
        self.data = np.concatenate([blob, np.zeros(1, np.uint8)])
        self.pos = starts.copy()
        self.rend = starts + lens
        self.bad = np.zeros(len(payloads), bool)

    def peek_is(self, tag: int, limit: np.ndarray) -> np.ndarray:
        """Rows (not bad, before limit) whose next byte equals ``tag``."""
        return (~self.bad) & (self.pos < limit) & (self.data[self.pos] == tag)

    def skip(self, k: int, mask: np.ndarray) -> None:
        self.pos[mask] += k

    def read_varint(self, mask: np.ndarray) -> np.ndarray:
        """Varints at the cursor for masked rows (lockstep <= 10 bytes);
        truncation or overlength marks the row bad."""
        vals = np.zeros(len(self.pos), np.uint64)
        cont = mask.copy()
        for k in range(10):
            active = cont & (self.pos < self.rend)
            # a continuation byte at the row boundary = truncated varint
            self.bad |= cont & ~active
            cont = active.copy()
            if not active.any():
                break
            b = self.data[self.pos[active]]
            if k == 9:
                # 10th byte carries bits >= 2^63: only 0/1 fit in uint64.
                # The scalar parser keeps the unbounded Python int here;
                # numpy would wrap mod 2^64 — route such rows to it.
                self.bad |= _expand(active, (b & 0x7E) != 0)
            vals[active] |= (b.astype(np.uint64) & np.uint64(0x7F)) << np.uint64(
                7 * k
            )
            self.pos[active] += 1
            done = (b & 0x80) == 0
            cont[active] = ~done
        # >10 bytes never terminates a valid varint
        self.bad |= cont
        return vals

    def read_len_payload(
        self, mask: np.ndarray, limit: np.ndarray
    ) -> tuple[np.ndarray, np.ndarray]:
        """LEN-field payload (start, len) at the cursor; advances past it.
        Overrun of the enclosing boundary marks the row bad."""
        ln = self.read_varint(mask).view(np.int64)
        ok = mask & ~self.bad
        start = self.pos.copy()
        # ln < 0 = a length >= 2^63 (int64 view): always exceeds any limit.
        # Compare against the room left, never pos + ln: a 9-byte length
        # near 2^63 - 1 would wrap that sum negative and pass the check.
        over = ok & ((ln < 0) | (ln > limit - self.pos))
        self.bad |= over
        adv = ok & ~over
        self.pos[adv] += ln[adv]
        return start, np.where(mask & ~self.bad, ln, 0)


def _decode_strings(
    data: np.ndarray,
    starts: np.ndarray,
    lens: np.ndarray,
    present: np.ndarray,
    bad: np.ndarray,
) -> list[str]:
    """Per-row UTF-8 decode of (start, len) slices; invalid UTF-8 marks
    the row bad (the scalar parser raises WireError there). Absent
    fields read as "" — the proto3 default the scalar decoder fills."""
    buf = data.tobytes()
    out = [""] * len(starts)
    for i in np.nonzero(present & ~bad)[0]:
        s = int(starts[i])
        try:
            out[i] = buf[s : s + int(lens[i])].decode("utf-8")
        except UnicodeDecodeError:
            bad[i] = True
    return out


def _signed32_vec(vals: np.ndarray) -> np.ndarray:
    return (vals & np.uint64(0xFFFFFFFF)).astype(np.uint32).view(np.int32)


def _signed64_vec(vals: np.ndarray) -> np.ndarray:
    return vals.view(np.int64)


#: output column order — protowire.BID_LOG_SQL_SCHEMA
BIDLOG_COLS = (
    "bid_id", "exchange", "bid_result", "bid_price", "received_at",
    "processed_at", "device_os", "device_ifa", "app_bundle",
    "geo_country", "geo_region",
)


def decode_bidlog_rows(
    payloads: list[bytes], drop_default_instance: bool = True
) -> dict[str, list]:
    """Whole-batch BidLog wire decode + flatten, row-equal to
    ``bidlog_to_row(decode_message(p, BID_LOG))`` with the scalar path's
    malformed-drop semantics; returns columns (BIDLOG_COLS order
    preserved, dropped rows removed). Fast-parses the canonical tag order
    (every field optionally absent); any structural deviation — unknown
    fields, out-of-order tags, truncation, invalid UTF-8 — re-parses THAT
    row through the scalar decoder, so errors and drops are
    bit-compatible."""
    from .protowire import (
        BID_LOG,
        WireError,
        bidlog_to_row,
        decode_message,
        is_default_instance,
    )

    n = len(payloads)
    if n == 0:
        return {c: [] for c in BIDLOG_COLS}
    r = _Reader(payloads)

    # BidLog.bid_request (always first when present)
    br_present = r.peek_is(_T_BR, r.rend)
    r.skip(1, br_present)
    br_start, br_ln = r.read_len_payload(br_present, r.rend)
    br_end = np.where(br_present, br_start + br_ln, 0)
    # rewind into the submessage: parse its interior with its own bound
    r.pos = np.where(br_present & ~r.bad, br_start, r.pos)

    # BidRequest.id
    id_p = br_present & r.peek_is(_T_ID, br_end)
    r.skip(1, id_p)
    id_s, id_l = r.read_len_payload(id_p, br_end)

    # BidRequest.app { bundle }
    app_p = br_present & r.peek_is(_T_APP, br_end)
    r.skip(1, app_p)
    app_s, app_l = r.read_len_payload(app_p, br_end)
    app_end = app_s + app_l
    # rewind into the submessage: parse its interior with its own bound
    r.pos = np.where(app_p & ~r.bad, app_s, r.pos)
    bu_p = app_p & r.peek_is(_T_BUNDLE, app_end)
    r.skip(1, bu_p)
    bu_s, bu_l = r.read_len_payload(bu_p, app_end)
    inside = app_p & ~r.bad
    r.bad |= inside & (r.pos != app_end)  # unknown trailing field
    r.pos = np.where(app_p & ~r.bad, app_end, r.pos)

    # BidRequest.device { geo { country, region }, os, ifa }
    dev_p = br_present & r.peek_is(_T_DEV, br_end)
    r.skip(1, dev_p)
    dev_s, dev_l = r.read_len_payload(dev_p, br_end)
    dev_end = dev_s + dev_l
    r.pos = np.where(dev_p & ~r.bad, dev_s, r.pos)
    geo_p = dev_p & r.peek_is(_T_GEO, dev_end)
    r.skip(1, geo_p)
    geo_s, geo_l = r.read_len_payload(geo_p, dev_end)
    geo_end = geo_s + geo_l
    r.pos = np.where(geo_p & ~r.bad, geo_s, r.pos)
    co_p = geo_p & r.peek_is(_T_COUNTRY, geo_end)
    r.skip(1, co_p)
    co_s, co_l = r.read_len_payload(co_p, geo_end)
    re_p = geo_p & r.peek_is(_T_REGION, geo_end)
    r.skip(1, re_p)
    re_s, re_l = r.read_len_payload(re_p, geo_end)
    inside = geo_p & ~r.bad
    r.bad |= inside & (r.pos != geo_end)
    r.pos = np.where(geo_p & ~r.bad, geo_end, r.pos)
    os_p = dev_p & r.peek_is(_T_OS, dev_end)
    r.skip(1, os_p)
    os_s, os_l = r.read_len_payload(os_p, dev_end)
    # 2-byte ifa tag: check both bytes
    ifa_p = dev_p & r.peek_is(_T_IFA[0], dev_end)
    ifa_p &= (r.pos + 1 < dev_end) & (r.data[np.minimum(r.pos + 1, len(r.data) - 1)] == _T_IFA[1])
    r.skip(2, ifa_p)
    ifa_s, ifa_l = r.read_len_payload(ifa_p, dev_end)
    inside = dev_p & ~r.bad
    r.bad |= inside & (r.pos != dev_end)
    r.pos = np.where(dev_p & ~r.bad, dev_end, r.pos)

    inside = br_present & ~r.bad
    r.bad |= inside & (r.pos != br_end)
    r.pos = np.where(br_present & ~r.bad, br_end, r.pos)

    # top-level varint fields, canonical order
    ints: dict[str, np.ndarray] = {}
    presence: dict[str, np.ndarray] = {}
    for name, tag in (
        ("exchange", _T_EXCH),
        ("received_at", _T_RECV),
        ("processed_at", _T_PROC),
        ("bid_result", _T_RES),
        ("bid_price", _T_PRICE),
    ):
        p = r.peek_is(tag, r.rend)
        r.skip(1, p)
        v = r.read_varint(p)
        ints[name] = np.where(p & ~r.bad, v, 0)
        presence[name] = p
    r.bad |= (~r.bad) & (r.pos != r.rend)  # unknown trailing field

    strings = {
        "bid_id": _decode_strings(r.data, id_s, id_l, id_p, r.bad),
        "app_bundle": _decode_strings(r.data, bu_s, bu_l, bu_p, r.bad),
        "device_os": _decode_strings(r.data, os_s, os_l, os_p, r.bad),
        "device_ifa": _decode_strings(r.data, ifa_s, ifa_l, ifa_p, r.bad),
        "geo_country": _decode_strings(r.data, co_s, co_l, co_p, r.bad),
        "geo_region": _decode_strings(r.data, re_s, re_l, re_p, r.bad),
    }
    good = ~r.bad  # _decode_strings may have flagged more rows

    exch32 = _signed32_vec(ints["exchange"])
    res32 = _signed32_vec(ints["bid_result"])
    price32 = _signed32_vec(ints["bid_price"])
    recv64 = _signed64_vec(ints["received_at"])
    proc64 = _signed64_vec(ints["processed_at"])

    # default-instance = nothing present at all (an EMPTY submessage tag
    # still round-trips to bytes, so br_present alone defeats the drop)
    any_field = br_present.copy()
    for p in presence.values():
        any_field |= p

    vec: dict[str, Any] = {
        "bid_id": strings["bid_id"],
        "exchange": exch32,
        "bid_result": res32,
        "bid_price": price32,
        "received_at": recv64,
        "processed_at": proc64,
        "device_os": strings["device_os"],
        "device_ifa": strings["device_ifa"],
        "app_bundle": strings["app_bundle"],
        "geo_country": strings["geo_country"],
        "geo_region": strings["geo_region"],
    }
    keep = good & (any_field if drop_default_instance else np.ones(n, bool))
    if good.all():
        # pure fast path: vectorized column selection, no per-row dicts
        idx = np.nonzero(keep)[0]
        return {
            c: (v[idx].tolist() if isinstance(v, np.ndarray)
                else [v[i] for i in idx])
            for c, v in vec.items()
        }
    # merge path: scalar-decode the deviating rows in place, keeping the
    # original row order (and the scalar drop semantics) exactly
    cols: dict[str, list] = {c: [] for c in BIDLOG_COLS}
    for i in range(n):
        if good[i]:
            if not keep[i]:
                continue
            for c in BIDLOG_COLS:
                v = vec[c][i]
                cols[c].append(v if c in strings else int(v))
        else:
            try:
                msg = decode_message(payloads[i], BID_LOG)
            except WireError:
                continue
            if drop_default_instance and is_default_instance(msg, BID_LOG):
                continue
            row = bidlog_to_row(msg)
            for c in BIDLOG_COLS:
                cols[c].append(row[c])
    return cols
