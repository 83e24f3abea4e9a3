"""Vectorized (numpy) wire-format decode for FLAT messages, and its encode
twin (``flat_encode``, at the end of this module).

The Arrow-batched decode UDF in ``pb_wire.py`` was the engine's only
Python-interpreter hot loop: ``py_decode`` walks every payload byte-by-byte
in Python bytecode (round-5 verdict: THE 100 TB bottleneck while the
spark-protobuf jar is absent — the sandbox ships no jar and no network to
fetch one). This module removes that loop for the common case: a flat
message of scalar varint/zigzag/enum/bool/string fields (exactly the shape
of ``turn_wire``, the engine's billing-rate payload — reference hot path
``@pb_builder.decode(data)``, protobuf.rb:212-218).

Strategy — transpose the loop. Instead of iterating payloads and walking
records within each (O(rows x records) Python steps), concatenate the whole
Arrow batch into ONE byte buffer and iterate wire RECORDS: every live row
reads its next tag/value simultaneously via numpy gathers. A batch of 10k
payloads x <=9 fields costs ~9 vector steps of a few dozen numpy kernels
each, instead of ~10^6 interpreted operations.

Parity contract: bit-identical to ``py_decode`` (pb3_to_hash semantics,
protobuf.rb:287-336), enforced by ``tests/test_wire_property.py`` fuzz that
runs both decoders over the same hypothesis-generated payloads. Rows the
vector path cannot express exactly (10-byte varints overflowing uint64 —
Python ints are unbounded, numpy is not) are flagged and re-decoded
individually through ``py_decode``: the fast path handles the fleet, the
scalar path keeps the spec's long tail.

Semantics mirrored record-for-record from ``py_decode``:
- unknown fields skipped by wire type (forward compatibility),
- tag field number 0 and wire types 3/4/6/7 -> WIRE_ERROR,
- truncated varints / overrun length prefixes -> WIRE_ERROR,
- wire-type vs declared-type mismatch: fixed32/64 on a non-float field is
  SKIPPED (bytes consumed), varint on a string field (or length-delimited on
  a scalar field) is WIRE_ERROR,
- proto3 defaults for absent scalars; absent oneof members stay NULL,
- last oneof member on the wire wins, the loser is nulled (a string member
  that LOSES takes the scalar fallback so its bytes still get the UTF-8
  validation py_decode applies to every occurrence),
- pb3 enums decode to NAMES with decimal-string unknown-code passthrough;
  pb2 keeps ints — codes int32-truncated like protobuf-java in both,
- invalid UTF-8 in a string field -> WIRE_ERROR.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

_WIRE_ERROR = "payload does not match pb3 wire format"

# raw varints interpreted as UNSIGNED by the declared type: values >= 2^63
# don't fit int64 storage -> per-row scalar fallback instead of silent wrap
_UNSIGNED_TYPES = {"uint32", "uint64"}
_SIGNED_TYPES = {"int32", "int64"}
_SINT_TYPES = {"sint32", "sint64"}


@dataclass(frozen=True)
class _VecField:
    name: str
    fnum: int
    ftype: str
    oneof: str | None


@dataclass
class FlatPlan:
    """Precompiled decode plan for one flat message (cached per registry).

    Round 7: one NESTING level — a singular (non-oneof) ``message:X`` field
    whose own plan is flat rides as ``messages`` + ``subplans``; its bytes
    are sub-sliced out of the SAME concatenated batch buffer and decoded by
    a recursive ``flat_decode_frame`` pass (absolute offsets, zero
    re-concatenation), then emitted as FLATTENED ``<field>.<subfield>``
    columns plus a ``<field>._present`` bool (py_decode: absent singular
    message -> None, present-but-empty -> sub defaults). float/double
    (fixed32/64 wire types) decode natively via byte gathers."""

    message: str
    proto_version: int
    varints: tuple[_VecField, ...]   # int/uint/sint/bool/enum fields
    strings: tuple[_VecField, ...]
    fixeds: tuple[_VecField, ...]    # float (fixed32) / double (fixed64)
    messages: tuple[_VecField, ...]  # singular nested messages, flat subplan
    subplans: dict[str, "FlatPlan"]  # message field name -> sub plan
    oneof_groups: dict[str, tuple[str, ...]]  # group -> member names
    field_names: tuple[str, ...]     # spec order
    enum_tables: dict[str, tuple]  # field -> (maxcode, names, has_name)
    registry: object                 # SchemaRegistry (for scalar fallback)


def build_flat_plan(registry, message: str, proto_version: int = 3
                    ) -> FlatPlan | None:
    """Compile a vector plan, or None when the message shape needs the
    general recursive decoder (repeated / map / deeper-than-one or
    recursive message nesting / struct / bytes fields)."""
    cache = getattr(registry, "_vec_plans", None)
    if cache is None:
        cache = {}
        registry._vec_plans = cache
    key = (message, proto_version)
    if key in cache:
        return cache[key]
    # provisional None: a recursive type (unicorn.mother -> unicorn) hits
    # this sentinel on the inner build and refuses, instead of recursing
    cache[key] = None

    spec = registry.messages.get(message)
    plan = None
    if spec is not None:
        varints: list[_VecField] = []
        strings: list[_VecField] = []
        fixeds: list[_VecField] = []
        messages: list[_VecField] = []
        subplans: dict[str, FlatPlan] = {}
        enum_tables: dict[str, tuple] = {}
        ok = True
        for fnum, f in spec.wire_fields():
            if f.repeated or f.type.startswith("map<") \
                    or f.type in ("bytes", "struct"):
                ok = False
                break
            vf = _VecField(f.name, fnum, f.type, f.oneof)
            if f.type == "string":
                strings.append(vf)
            elif f.type in ("float", "double"):
                if f.oneof:  # keep oneof machinery varint/string-only
                    ok = False
                    break
                fixeds.append(vf)
            elif f.type.startswith("message:"):
                sub = (None if f.oneof else
                       build_flat_plan(registry, f.type[8:], proto_version))
                # one level only: a sub plan that itself nests refuses
                if sub is None or sub.messages:
                    ok = False
                    break
                messages.append(vf)
                subplans[f.name] = sub
            elif f.type.startswith("enum:"):
                enum = registry.enums[f.type[5:]]
                codes = [c for c in enum.values if c >= 0]
                maxc = max(codes) if codes else -1
                table = np.empty(maxc + 1, dtype=object)
                table[:] = None
                for c, nm in enum.values.items():
                    if c >= 0:
                        table[c] = nm
                has_name = np.fromiter((x is not None for x in table),
                                       bool, maxc + 1)
                enum_tables[f.name] = (maxc, table, has_name)
                varints.append(vf)
            elif f.type in _UNSIGNED_TYPES | _SIGNED_TYPES | _SINT_TYPES \
                    or f.type == "bool":
                varints.append(vf)
            else:
                ok = False
                break
        if ok:
            groups: dict[str, list[str]] = {}
            for f in spec.fields:
                if f.oneof:
                    groups.setdefault(f.oneof, []).append(f.name)
            plan = FlatPlan(
                message, proto_version, tuple(varints), tuple(strings),
                tuple(fixeds), tuple(messages), subplans,
                {g: tuple(m) for g, m in groups.items()},
                tuple(f.name for f in spec.fields), enum_tables, registry,
            )
    cache[key] = plan
    return plan


def _read_varint_vec(arr: np.ndarray, pos: np.ndarray, end: np.ndarray,
                     mask: np.ndarray, err: np.ndarray,
                     fallback: np.ndarray) -> np.ndarray:
    """Advance ``pos[mask]`` past one varint each; return the raw uint64
    values (full-length array, zeros outside ``mask``). Truncated varints
    and >10-byte varints set ``err`` (py_decode raises WIRE_ERROR at
    shift>63); 10-byte varints whose final byte exceeds 1 carry values past
    uint64 — numpy can't hold them, so those rows go to ``fallback`` (the
    scalar decoder, with unbounded Python ints, keeps exact parity)."""
    n = pos.shape[0]
    val = np.zeros(n, np.uint64)
    cont = mask.copy()
    shift = 0
    while True:
        live = np.nonzero(cont)[0]
        if live.size == 0:
            break
        inb_l = pos[live] < end[live]
        ranpast = live[~inb_l]
        if ranpast.size:
            err[ranpast] = True  # varint truncated mid-payload
        idx = live[inb_l]
        if shift > 63:
            err[idx] = True      # 11th byte: py_decode raises here
            break
        b = arr[pos[idx]]
        lo = (b & 0x7F).astype(np.uint64)
        if shift == 63:
            fallback[idx[lo > 1]] = True  # exceeds uint64: scalar fallback
        val[idx] |= lo << np.uint64(shift)
        pos[idx] += 1
        cont.fill(False)
        cont[idx[b >= 0x80]] = True
        shift += 7
    return val


def flat_decode_frame(payload, plan: FlatPlan, _pre=None) -> dict[str, object]:
    """Decode an Arrow batch of payloads per ``plan``.

    Returns a column dict: one entry per message field (pandas Int64 /
    Float64 / object), one ``_pb_oneof_<group>`` object column per oneof
    group (chosen-member name or None), FLATTENED ``<field>.<subfield>``
    columns plus ``<field>._present`` per nested-message field, plus
    ``error``. Error rows are all-NULL with WIRE_ERROR; fallback rows are
    patched via ``py_decode``.

    ``_pre``: the seam for callers that already hold the payloads in one
    buffer — the Arrow UDF (a ``BinaryArray``'s data buffer and offsets)
    and the one-level nested pass — ``(arr, pos, end, isnull, rowbytes)``
    where offsets index that buffer directly (sub-slices are never
    re-concatenated) and ``rowbytes(i)`` yields row i's bytes for the
    scalar fallback."""
    from .pb_wire import py_decode

    if _pre is None:
        raw = list(payload)
        n = len(raw)
        lens = np.fromiter(
            (-1 if p is None else len(p) for p in raw), np.int64, n)
        isnull = lens < 0
        np.maximum(lens, 0, out=lens)
        try:
            big = b"".join(raw)  # bytes/bytearray join, no per-item call
        except TypeError:        # None payloads present
            big = b"".join(p if p is not None else b"" for p in raw)
        # offsets over the concatenated buffer (null payloads occupy 0 bytes)
        end = np.cumsum(lens)
        pos = end - lens
        arr = np.frombuffer(big, np.uint8) if big else np.zeros(0, np.uint8)

        def rowbytes(i: int) -> bytes:
            return bytes(raw[i])
    else:
        arr, pos, end, isnull, rowbytes = _pre
        n = pos.shape[0]

    err = isnull.copy()
    fallback = np.zeros(n, bool)

    vvals = {f.name: np.zeros(n, np.uint64) for f in plan.varints}
    vseen = {f.name: np.zeros(n, bool) for f in plan.varints}
    sstart = {f.name: np.zeros(n, np.int64) for f in plan.strings}
    send = {f.name: np.zeros(n, np.int64) for f in plan.strings}
    sseen = {f.name: np.zeros(n, bool) for f in plan.strings}
    fvals = {f.name: np.zeros(n, np.float64) for f in plan.fixeds}
    fseen = {f.name: np.zeros(n, bool) for f in plan.fixeds}
    mstart = {f.name: np.zeros(n, np.int64) for f in plan.messages}
    mend = {f.name: np.zeros(n, np.int64) for f in plan.messages}
    mseen = {f.name: np.zeros(n, bool) for f in plan.messages}
    seen_of = {**vseen, **sseen}
    chosen = {g: np.zeros(n, np.int16) for g in plan.oneof_groups}

    varint_by_num = {f.fnum: f for f in plan.varints}
    string_by_num = {f.fnum: f for f in plan.strings}
    fixed_by_num = {f.fnum: f for f in plan.fixeds}
    msg_by_num = {f.fnum: f for f in plan.messages}

    def _won_oneof(f: _VecField, mk: np.ndarray) -> None:
        members = plan.oneof_groups[f.oneof]
        for m in members:
            if m != f.name:
                if m in sseen:
                    # a STRING member losing the oneof: its earlier wire
                    # bytes are never assembled, so the vector path would
                    # skip the UTF-8 validation py_decode applies to every
                    # occurrence — route those rows to the scalar decoder
                    lost = mk & sseen[m]
                    if lost.any():
                        fallback[lost] = True
                seen_of[m][mk] = False  # last member on the wire wins
        chosen[f.oneof][mk] = members.index(f.name) + 1

    active = ~err & ~fallback & (pos < end)
    while active.any():
        tag = _read_varint_vec(arr, pos, end, active, err, fallback)
        active &= ~err & ~fallback
        fnum = tag >> np.uint64(3)
        wt = (tag & np.uint64(7)).astype(np.int64)
        bad = active & ((fnum == 0) | (wt == 3) | (wt == 4) | (wt > 5))
        err |= bad
        active &= ~bad

        # wire type 0: varint value
        m0 = active & (wt == 0)
        if m0.any():
            v = _read_varint_vec(arr, pos, end, m0, err, fallback)
            m0 &= ~err & ~fallback
            for k, f in varint_by_num.items():
                mk = m0 & (fnum == k)
                if mk.any():
                    vvals[f.name][mk] = v[mk]
                    vseen[f.name][mk] = True
                    if f.oneof:
                        _won_oneof(f, mk)
            # varint wire type on a declared len/fixed-kind field: py_decode
            # raises (_scalar_kind != "varint")
            for k in string_by_num:
                err |= m0 & (fnum == k)
            for k in fixed_by_num:
                err |= m0 & (fnum == k)
            for k in msg_by_num:
                err |= m0 & (fnum == k)

        # wire types 1/5: fixed64/fixed32 — declared double/float fields
        # decode via a byte gather; a WRONG-width fixed on a float field
        # (and any other declared or unknown field) just consumes the bytes
        # (py_decode `continue`); short buffers are WIRE_ERROR
        for w, width in ((1, 8), (5, 4)):
            mw = active & (wt == w)
            if mw.any():
                short = mw & (pos + width > end)
                err |= short
                mw &= ~short
                for k, f in fixed_by_num.items():
                    if (8 if f.ftype == "double" else 4) != width:
                        continue
                    mk = mw & (fnum == k)
                    if mk.any():
                        ridx = np.nonzero(mk)[0]
                        gathered = arr[pos[ridx][:, None]
                                       + np.arange(width, dtype=np.int64)]
                        vals = np.frombuffer(
                            gathered.tobytes(),
                            dtype="<f8" if width == 8 else "<f4")
                        fvals[f.name][mk] = vals.astype(np.float64)
                        fseen[f.name][mk] = True
                pos[mw] += width

        # wire type 2: length-delimited
        m2 = active & (wt == 2)
        if m2.any():
            ln = _read_varint_vec(arr, pos, end, m2, err, fallback)
            m2 &= ~err & ~fallback
            over = m2 & (ln > (end - pos).astype(np.uint64))
            err |= over
            m2 &= ~over
            lni = ln.astype(np.int64)
            for k, f in string_by_num.items():
                mk = m2 & (fnum == k)
                if mk.any():
                    # duplicated non-repeated string field: the scalar
                    # decoder UTF-8-validates EVERY occurrence in wire order
                    # (an invalid loser still errors the row); the vector
                    # path only decodes the final winner — route such rows
                    # (legal but rare) through the scalar fallback
                    dup = mk & sseen[f.name]
                    if dup.any():
                        fallback |= dup
                        mk &= ~dup
                    sstart[f.name][mk] = pos[mk]
                    send[f.name][mk] = pos[mk] + lni[mk]
                    sseen[f.name][mk] = True
                    if f.oneof:
                        _won_oneof(f, mk)
            for k, f in msg_by_num.items():
                mk = m2 & (fnum == k)
                if mk.any():
                    # singular nested message: LAST occurrence wins
                    # (py_decode overwrites out[f.name]) — but py_decode
                    # DECODES every occurrence in wire order, so an invalid
                    # earlier one errors the whole row; the vector pass only
                    # decodes the winner. Duplicates (legal but rare) route
                    # through the scalar fallback, same as dup strings.
                    dup = mk & mseen[f.name]
                    if dup.any():
                        fallback |= dup
                        mk &= ~dup
                    mstart[f.name][mk] = pos[mk]
                    mend[f.name][mk] = pos[mk] + lni[mk]
                    mseen[f.name][mk] = True
            # length-delimited on a scalar (varint/fixed-kind) field:
            # py_decode raises WIRE_ERROR
            for k in varint_by_num:
                err |= m2 & (fnum == k)
            for k in fixed_by_num:
                err |= m2 & (fnum == k)
            m2 &= ~err
            pos[m2] += lni[m2]

        active = ~err & ~fallback & (pos < end)

    # ---- column assembly -------------------------------------------------
    # strings FIRST: invalid UTF-8 flips rows to err, which the numeric
    # masks below must observe. Extraction is a vectorized byte gather into
    # one contiguous buffer per field + an Arrow utf-8-validated cast — the
    # per-row bytes.decode loop was the residual hot spot (it alone cost
    # ~half the vector path's time on realistic batches).
    import pyarrow as pa

    str_arrow: dict[str, object] = {}   # pa large_string array (fast path)
    str_obj: dict[str, np.ndarray] = {}  # object fallback (invalid UTF-8)
    for f in plan.strings:
        s, e, seen = sstart[f.name], send[f.name], sseen[f.name]
        live = seen & ~err & ~fallback
        ls = np.where(live, e - s, 0)
        offsets = np.zeros(n + 1, np.int32)
        np.cumsum(ls, out=offsets[1:])
        total = int(offsets[-1])
        if total:
            row_idx = np.nonzero(ls)[0]
            lsr = ls[row_idx]
            # int32 gather indices: payload batches are far below 2 GiB and
            # first-touch page faults on fresh allocations are expensive in
            # a microVM — half-width temporaries halve that cost
            idx = np.arange(total, dtype=np.int32)
            idx += np.repeat((s[row_idx] - offsets[row_idx])
                             .astype(np.int32), lsr)
            data = arr[idx]
        else:
            data = np.zeros(0, np.uint8)
        # 32-bit offsets (pa.string, not large_string): Spark's StringType
        # struct children must be utf8, and batches are far below 2 GiB
        binarr = pa.Array.from_buffers(
            pa.binary(), n,
            [None, pa.py_buffer(offsets), pa.py_buffer(data)])
        try:
            # stays an Arrow array end-to-end: the cast validates UTF-8 and
            # the UDF returns it as an ArrowExtensionArray column — no
            # Python str objects are ever materialized on the fast path
            str_arrow[f.name] = binarr.cast(pa.string())
        except pa.lib.ArrowInvalid:
            # some row carries invalid UTF-8: per-row re-decode isolates it
            out = np.empty(n, object)
            out[:] = ""
            for i in np.nonzero(live)[0]:
                try:
                    out[i] = bytes(arr[s[i]:e[i]]).decode("utf-8")
                except UnicodeDecodeError:
                    err[i] = True
            str_obj[f.name] = out

    # ---- one-level nested messages (round 7) ------------------------------
    # sub-slices index the SAME batch buffer (absolute offsets, no
    # re-concatenation): one recursive flat pass per nested field decodes
    # every live submessage simultaneously. Results come back as flattened
    # "<field>.<subfield>" columns; a sub WIRE_ERROR kills the parent row
    # (py_decode raises through), sub >uint64 fallbacks are patched INSIDE
    # the sub pass from the sub bytes alone.
    sub_scatter: dict[str, dict[str, np.ndarray]] = {}
    for f in plan.messages:
        live = mseen[f.name] & ~err & ~fallback
        idxs = np.nonzero(live)[0]
        s_all, e_all = mstart[f.name], mend[f.name]

        def _sub_rowbytes(i: int, _s=s_all, _e=e_all, _ix=idxs) -> bytes:
            return bytes(arr[_s[_ix[i]]:_e[_ix[i]]])

        sc = flat_decode_frame(
            None, plan.subplans[f.name],
            _pre=(arr, s_all[idxs], e_all[idxs],
                  np.zeros(idxs.size, bool), _sub_rowbytes))
        serr = pd.Series(sc.pop("error")).notna().to_numpy()
        if serr.any():
            err[idxs[serr]] = True
        scat: dict[str, np.ndarray] = {}
        for sub_name, c in sc.items():
            co = (c if isinstance(c, np.ndarray)
                  else c.to_numpy(dtype=object, na_value=None))
            full = np.empty(n, object)
            full[:] = None
            full[idxs] = co
            scat[sub_name] = full
        sub_scatter[f.name] = scat

    cols: dict[str, object] = {}
    dead = err | fallback  # NA until (maybe) patched
    for f in plan.varints:
        v, seen = vvals[f.name], vseen[f.name]
        if f.ftype.startswith("enum:"):
            # int32-truncate the raw varint (protobuf-java parity, same as
            # py_decode's _typed_varint): codes ALWAYS fit, so enums never
            # take the representability fallback
            code = (v & np.uint64(0xFFFFFFFF)).astype(
                np.uint32).view(np.int32).astype(np.int64)
            if plan.proto_version == 2:  # pb2: codes pass through as ints
                na = dead | (~seen if f.oneof else np.zeros(n, bool))
                cols[f.name] = pd.arrays.IntegerArray(code, mask=na.copy())
                continue
            maxc, table, has_name = plan.enum_tables[f.name]
            out = np.empty(n, object)
            default = plan.registry.enums[f.ftype[5:]].default_name
            out[:] = None if f.oneof else default
            live = seen & ~dead
            small = live & (code >= 0) & (code <= maxc) if maxc >= 0 \
                else np.zeros(n, bool)
            if maxc >= 0 and small.any():
                si = code[small]
                out[small] = table[si]
                # in-range codes with no name: decimal-string passthrough
                # (py: `name if name is not None else str(code)`)
                nameless = small.copy()
                nameless[small] = ~has_name[si]
            else:
                nameless = np.zeros(n, bool)
            nameless |= live & ~small  # codes outside the table: passthrough
            for i in np.nonzero(nameless)[0]:
                out[i] = str(int(code[i]))
            out[dead] = None
            cols[f.name] = out
            continue
        if f.ftype in _UNSIGNED_TYPES:
            # raw unsigned >= 2^63 doesn't fit Int64: scalar fallback
            fallback |= seen & (v >= np.uint64(1 << 63))
            dead = err | fallback
            iv = v.astype(np.int64)
        elif f.ftype in _SINT_TYPES:
            one = np.uint64(1)
            iv = ((v >> one) ^ (np.uint64(0) - (v & one))).view(np.int64)
        elif f.ftype == "bool":
            out = np.empty(n, object)
            out[:] = None if f.oneof else False
            live = seen & ~dead
            out[live] = (v[live] != 0)
            out[dead] = None
            cols[f.name] = out
            continue
        else:  # int32/int64: two's-complement reinterpret == py semantics
            iv = v.view(np.int64)
        na = dead | (~seen if f.oneof else np.zeros(n, bool))
        cols[f.name] = pd.arrays.IntegerArray(iv.copy(), mask=na.copy())

    for f in plan.strings:
        null_mask = err | fallback
        if f.oneof is not None:
            # absent oneof members are NULL; absent non-oneof strings keep
            # the proto3 "" default (the gather's output for 0-length rows)
            null_mask = null_mask | ~sseen[f.name]
        if f.name in str_arrow:
            sarr = str_arrow[f.name]
            if null_mask.any():
                import pyarrow.compute as pc
                sarr = pc.if_else(
                    pa.array(~null_mask), sarr,
                    pa.scalar(None, pa.string()))
            cols[f.name] = pd.arrays.ArrowExtensionArray(sarr)
        else:
            out = str_obj[f.name]
            out[null_mask] = None
            cols[f.name] = out

    for f in plan.fixeds:
        # proto3 default 0.0 for absent (zeros init); the float32->float64
        # widening is exact, matching py_decode's struct.unpack('<f') float
        na = err | fallback
        cols[f.name] = pd.arrays.FloatingArray(
            fvals[f.name].copy(), mask=na.copy())

    for f in plan.messages:
        nulls = err | fallback
        pres = np.empty(n, object)
        pres[:] = False
        pres[mseen[f.name]] = True
        pres[nulls] = None  # py: absent singular message -> None (presence)
        cols[f"{f.name}._present"] = pres
        for sub_name, full in sub_scatter[f.name].items():
            full[nulls] = None
            cols[f"{f.name}.{sub_name}"] = full

    for g, members in plan.oneof_groups.items():
        ch = chosen[g]
        out = np.empty(n, object)
        out[:] = None
        for j, m in enumerate(members):
            out[ch == j + 1] = m
        out[err | fallback] = None
        cols[f"_pb_oneof_{g}"] = out

    if err.any():
        error_col = np.empty(n, object)
        error_col[:] = None
        error_col[err] = _WIRE_ERROR
        cols["error"] = error_col
    else:  # common case: all-null without materializing n Nones
        cols["error"] = pd.arrays.ArrowExtensionArray(
            pa.nulls(n, pa.string()))

    # ---- scalar fallback patch-up (rare: >uint64 varints) -----------------
    fb_rows = np.nonzero(fallback & ~err)[0]
    if fb_rows.size:
        int64_dest = {
            f.name for f in plan.varints
            if f.ftype in _UNSIGNED_TYPES | _SIGNED_TYPES | _SINT_TYPES
        }  # enum codes are int32-truncated upstream: always representable
        # mutability for the patch: Arrow-backed columns become object,
        # and so do floats — a NaN set into a Float64 column turns NULL
        cols = {
            k: (c.to_numpy(dtype=object, na_value=None)
                if isinstance(c, (pd.arrays.ArrowExtensionArray,
                                  pd.arrays.FloatingArray)) else c)
            for k, c in cols.items()
        }
        msg_names = {f.name for f in plan.messages}
        # a sub-level int64-representability breach dead-letters the parent
        # row exactly like a top-level one (the flattened columns are
        # Int64-typed at the consumer boundary)
        sub_int64_dest = {
            mf.name: {f.name for f in plan.subplans[mf.name].varints
                      if f.ftype in
                      _UNSIGNED_TYPES | _SIGNED_TYPES | _SINT_TYPES}
            for mf in plan.messages
        }
        frame = pd.DataFrame(cols)
        eloc = frame.columns.get_loc("error")
        for i in fb_rows:
            try:
                d = py_decode(rowbytes(i), plan.registry, plan.message,
                              plan.proto_version)
                if any(d[k] is not None and not _fits_int64(d[k])
                       for k in int64_dest):
                    # representability boundary: the decoded value exists as
                    # a Python int but not in the declared Int64 column —
                    # dead-letter the row, never crash the batch
                    raise ValueError(_WIRE_ERROR)
                for mf, dest in sub_int64_dest.items():
                    sub = d[mf]
                    if sub is not None and any(
                            sub[k] is not None and not _fits_int64(sub[k])
                            for k in dest):
                        raise ValueError(_WIRE_ERROR)
            except ValueError:
                for c in frame.columns:
                    if c != "error":
                        frame.iloc[i, frame.columns.get_loc(c)] = (
                            pd.NA if frame[c].dtype in ("Int64", "Float64")
                            else None)
                frame.iloc[i, eloc] = _WIRE_ERROR
                continue
            for name in plan.field_names:
                if name in msg_names:
                    continue  # flattened below
                val = d[name]
                frame.iloc[i, frame.columns.get_loc(name)] = (
                    pd.NA if val is None else val)
            for mf in plan.messages:
                sub = d[mf.name]
                subplan = plan.subplans[mf.name]
                frame.iloc[i, frame.columns.get_loc(
                    f"{mf.name}._present")] = sub is not None
                for sn in subplan.field_names:
                    frame.iloc[i, frame.columns.get_loc(
                        f"{mf.name}.{sn}")] = (
                        None if sub is None or sub[sn] is None else sub[sn])
                for g in subplan.oneof_groups:
                    frame.iloc[i, frame.columns.get_loc(
                        f"{mf.name}._pb_oneof_{g}")] = (
                        None if sub is None else sub["_pb_oneof"].get(g))
            for g in plan.oneof_groups:
                frame.iloc[i, frame.columns.get_loc(f"_pb_oneof_{g}")] = (
                    d["_pb_oneof"].get(g))
            frame.iloc[i, eloc] = None
        return {c: frame[c] for c in frame.columns}
    return cols


def _fits_int64(v) -> bool:
    return not isinstance(v, int) or -(1 << 63) <= v < (1 << 63)


# ---------------------------------------------------------------------------
# vectorized ENCODE: the Arrow-batch twin of flat_decode_frame
# ---------------------------------------------------------------------------
#
# One pass per FIELD over the whole batch instead of one interpreted
# expression per ROW: varints are laid out with numpy (a few shifts and
# scatters per base-128 group), strings ride their Arrow UTF-8 buffers
# untouched (a zero-copy cast to binary), and the per-field pieces are
# concatenated by one ``binary_join_element_wise`` call. A piece is ``b""``
# when proto3 presence omits the field and NULL when the value violates the
# field's bound, so a violation poisons the whole payload (the join emits
# NULL) — the same dead-letter the SQL oracle template renders.

@dataclass(frozen=True)
class _EncField:
    name: str
    tag: bytes      # field tag, pre-encoded (constant per field)
    kind: str       # "string" | "varint" | "sint"
    oneof: str | None
    groups: int     # varint bound: value (or UTF-8 length) < 128**groups


def build_encode_plan(registry, message: str, groups: dict[str, int]
                      ) -> tuple[_EncField, ...]:
    """Field numbers, wire types and oneof membership from the registry
    spec (the same spec ``build_flat_plan`` reads); ``groups`` is the
    per-field varint bound table. Only the scalar kinds a flat transcript
    message carries are supported: string, int32/int64/enum, sint32/64."""
    from ..functions.wire import WT_LEN, WT_VARINT, py_tag

    out = []
    for fnum, f in registry.messages[message].wire_fields():
        if f.repeated:
            raise ValueError(f"vector encode: repeated field {f.name}")
        if f.type == "string":
            kind, wt = "string", WT_LEN
        elif f.type in _SINT_TYPES:
            kind, wt = "sint", WT_VARINT
        elif f.type in _SIGNED_TYPES or f.type.startswith("enum:"):
            kind, wt = "varint", WT_VARINT
        else:
            raise ValueError(f"vector encode: unsupported type {f.type}")
        if not 1 <= groups[f.name] <= 8:
            raise ValueError(f"vector encode: {f.name} needs a 1..8 group "
                             "bound")
        out.append(_EncField(f.name, py_tag(fnum, wt), kind, f.oneof,
                             groups[f.name]))
    return tuple(out)


def _varint_piece(tag: bytes, v: np.ndarray, emit: np.ndarray,
                  bad: np.ndarray, groups: int):
    """``tag + varint(v)`` for rows in ``emit``, ``b""`` elsewhere, NULL where
    ``bad``. ``v`` is uint64 and below ``128**groups`` on every emitted,
    non-bad row."""
    import pyarrow as pa

    n = v.shape[0]
    emit = emit & ~bad
    ngroups = np.ones(n, np.int32)
    for i in range(1, groups):
        ngroups += v >= np.uint64(128 ** i)
    lens = np.where(emit, len(tag) + ngroups, 0).astype(np.int32)
    offsets = np.zeros(n + 1, np.int32)
    np.cumsum(lens, out=offsets[1:])
    data = np.empty(int(offsets[-1]), np.uint8)
    start = offsets[:-1][emit]
    for j, b in enumerate(tag):
        data[start + j] = b
    ve, ge, at = v[emit], ngroups[emit], start + len(tag)
    for i in range(groups):
        live = ge > i
        byte = (ve[live] >> np.uint64(7 * i)) & np.uint64(0x7F)
        byte |= (ge[live] > i + 1).astype(np.uint64) << np.uint64(7)
        data[at[live] + i] = byte
    validity = (pa.py_buffer(np.packbits(~bad, bitorder="little"))
                if bad.any() else None)
    return pa.Array.from_buffers(
        pa.binary(), n,
        [validity, pa.py_buffer(offsets), pa.py_buffer(data)])


def _ints(arr) -> tuple[np.ndarray, np.ndarray]:
    """(int64 values with NULL -> 0, validity) of an Arrow integer array."""
    import pyarrow.compute as pc

    valid = arr.is_valid().to_numpy(zero_copy_only=False)
    vals = pc.fill_null(arr, 0).to_numpy(zero_copy_only=False)
    return vals.astype(np.int64, copy=False), valid


def flat_encode(cols: dict, plan: tuple[_EncField, ...],
                chosen: dict):
    """Encode one Arrow batch to a ``pa.binary()`` array of wire payloads.

    ``cols`` maps field name -> Arrow array. Presence follows proto3:
    scalars are omitted at NULL/0/'' ; a oneof member is emitted whenever
    ``chosen[name]`` (a bool array) holds and its value is non-NULL, even at
    the default value. A payload is NULL when an emitted field is out of
    bound: a varint value (or string UTF-8 length) >= ``128**groups``, or a
    negative int32/int64/enum value (which a conformant encoder would write
    as a 10-byte two's-complement varint the bounded layout cannot hold)."""
    import pyarrow as pa
    import pyarrow.compute as pc

    pieces = []
    for f in plan:
        arr = cols[f.name]
        if f.kind == "string":
            blen, valid = _ints(pc.binary_length(arr))
            emit = valid & (blen > 0)
            bad = emit & (blen >= 128 ** f.groups)
            pieces.append(_varint_piece(f.tag, blen.astype(np.uint64), emit,
                                        bad, f.groups))
            pieces.append(pc.fill_null(pc.cast(arr, pa.binary()), b""))
            continue
        x, valid = _ints(arr)
        if f.oneof is not None:
            emit = valid & np.asarray(chosen[f.name], bool)
        else:
            emit = valid & (x != 0)
        if f.kind == "sint":
            u = ((x << 1) ^ (x >> 63)).view(np.uint64)  # zigzag, wraps
            bad = emit & (u >= np.uint64(128 ** f.groups))
        else:
            u = x.view(np.uint64)
            bad = emit & ((x < 0) | (x >= 128 ** f.groups))
        pieces.append(_varint_piece(f.tag, u, emit, bad, f.groups))
    return pc.binary_join_element_wise(*pieces, b"")
