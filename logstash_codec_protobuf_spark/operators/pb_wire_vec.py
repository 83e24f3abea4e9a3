"""Vectorized (numpy) wire-format decode for FLAT messages, and its encode
twin (``flat_encode``, at the end of this module).

``py_decode`` walks every payload byte by byte in Python bytecode. This
module removes that loop for the common case: a flat message of scalar
varint/zigzag/enum/bool/string/float fields plus at most one level of
singular nesting (exactly the shape of ``turn_wire``, the engine's
billing-rate payload — reference hot path ``@pb_builder.decode(data)``,
protobuf.rb:212-218).

Strategy — transpose the loop. Instead of iterating payloads and walking
records within each (O(rows x records) Python steps), take the Arrow
batch's one byte buffer and iterate wire RECORDS: every live row reads its
next tag/value simultaneously via numpy gathers. A batch of 10k payloads x
<=9 fields costs ~9 vector steps of a few dozen numpy kernels each, instead
of ~10^6 interpreted operations.

``flat_decode`` takes the payload ``pa.BinaryArray`` and returns the
decoded ``pa.StructArray`` itself (the Arrow type of ``pb_wire.
decoded_schema`` plus ``error``) and a mask of the rows it HANDS OFF: rows
the vector path cannot express exactly, left NULL, which the caller
re-decodes with the row decoder (``py_decode`` per payload). Those are
10-byte varints past uint64 (Python ints are unbounded, numpy is not),
uint32 values >= 2^63, duplicated string or message fields and a string
oneof member that loses (``py_decode`` UTF-8-validates or decodes every
occurrence; the walker keeps only the last). The fast path handles the
fleet, the row decoder keeps the spec's long tail.

Parity contract: the flat batch equals the row decoder's batch, enforced by
``tests/test_wire_property.py``, which runs both over the same
hypothesis-generated payloads. Semantics mirrored record-for-record from
``py_decode``:
- unknown fields skipped by wire type (forward compatibility),
- tag field number 0 and wire types 3/4/6/7 -> WIRE_ERROR,
- truncated varints / overrun length prefixes -> WIRE_ERROR,
- wire-type vs declared-type mismatch: fixed32/64 on a non-float field is
  SKIPPED (bytes consumed), varint on a string field (or length-delimited on
  a scalar field) is WIRE_ERROR,
- proto3 defaults for absent scalars; absent oneof members stay NULL,
- last oneof member on the wire wins, the loser is nulled,
- pb3 enums decode to NAMES with decimal-string unknown-code passthrough;
  pb2 keeps ints — codes int32-truncated like protobuf-java in both,
- int32 fields wrap to 32 bits like protobuf-java's readInt32,
- invalid UTF-8 in a string field -> WIRE_ERROR.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc

_WIRE_ERROR = "payload does not match pb3 wire format"

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

    One NESTING level — a singular (non-oneof) ``message:X`` field whose own
    plan is flat rides as ``messages`` + ``subplans``; its bytes are
    sub-sliced out of the SAME batch buffer and decoded by a recursive walk
    (absolute offsets, zero re-concatenation) into a child struct array
    whose validity is its presence (py_decode: absent singular message ->
    None, present-but-empty -> sub defaults). float/double (fixed32/64 wire
    types) decode natively via byte gathers."""

    proto_version: int
    varints: tuple[_VecField, ...]   # int/uint32/sint/bool/enum fields
    strings: tuple[_VecField, ...]
    fixeds: tuple[_VecField, ...]    # float (fixed32) / double (fixed64)
    messages: tuple[_VecField, ...]  # singular nested messages, flat subplan
    subplans: dict[str, "FlatPlan"]  # message field name -> sub plan
    oneof_groups: dict[str, tuple[str, ...]]  # group -> member names
    # enum field -> (registered codes, their names, the proto3 default name)
    enum_tables: dict[str, tuple]


def build_flat_plan(registry, message: str, proto_version: int = 3
                    ) -> FlatPlan | None:
    """Compile a vector plan, or None when the message shape needs the
    general recursive decoder (repeated / map / deeper-than-one or
    recursive message nesting / struct / bytes / uint64 fields — uint64
    decodes to DECIMAL(20,0), which the walker's int64 lanes cannot hold)."""
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
                codes = sorted(enum.values)
                enum_tables[f.name] = (
                    pa.array(codes, pa.int32()),
                    pa.array([enum.values[c] for c in codes], pa.string()),
                    enum.default_name)
                varints.append(vf)
            elif f.type in _SIGNED_TYPES | _SINT_TYPES \
                    or f.type in ("uint32", "bool"):
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
                proto_version, tuple(varints), tuple(strings),
                tuple(fixeds), tuple(messages), subplans,
                {g: tuple(m) for g, m in groups.items()}, enum_tables,
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
    hand-off to the row decoder, whose unbounded Python ints keep exact
    parity)."""
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
            fallback[idx[lo > 1]] = True  # exceeds uint64: hand off
        val[idx] |= lo << np.uint64(shift)
        pos[idx] += 1
        cont.fill(False)
        cont[idx[b >= 0x80]] = True
        shift += 7
    return val


def flat_decode(payload, plan: FlatPlan, atype):
    """Decode a ``pa.BinaryArray`` of payloads per ``plan``.

    Returns ``(decoded, handoff)``. ``decoded`` is a ``pa.StructArray`` of
    ``atype``, the decoded struct's Arrow type: one child per message field
    (a nested message is a child struct array, NULL where absent), one
    ``oneof_<group>`` slot naming the chosen member, then ``error``. An
    error row is all-NULL with WIRE_ERROR. ``handoff`` is a bool mask of the
    rows the walker cannot express exactly; they are all-NULL with a NULL
    ``error``, and the caller re-decodes them with the row decoder."""
    n = len(payload)
    _, offs, data = payload.buffers()
    offsets = (np.frombuffer(offs, np.int32, n + 1, 4 * payload.offset)
               .astype(np.int64) if n else np.zeros(1, np.int64))
    arr = (np.frombuffer(data, np.uint8) if data is not None
           else np.zeros(0, np.uint8))
    isnull = payload.is_null().to_numpy(zero_copy_only=False)
    children, _, handoff = _walk(arr, offsets[:-1].copy(), offsets[1:],
                                 isnull, plan, atype)
    return pa.StructArray.from_arrays(children, fields=list(atype)), handoff


def _walk(arr: np.ndarray, pos: np.ndarray, end: np.ndarray,
          isnull: np.ndarray, plan: FlatPlan, atype):
    """Decode the payloads ``arr[pos[i]:end[i]]``: offsets index the batch
    buffer directly, so the nested pass walks sub-slices of the same buffer.
    Returns ``(children, err, handoff)``: the child arrays of ``atype`` in
    its field order, and the rows that are wire errors and hand-offs."""
    n = pos.shape[0]
    err = isnull.copy()
    fallback = np.zeros(n, bool)

    vvals = {f.name: np.zeros(n, np.uint64) for f in plan.varints}
    vseen = {f.name: np.zeros(n, bool) for f in plan.varints}
    sstart = {f.name: np.zeros(n, np.int64) for f in plan.strings}
    send = {f.name: np.zeros(n, np.int64) for f in plan.strings}
    sseen = {f.name: np.zeros(n, bool) for f in plan.strings}
    # float32 lanes for float fields: the decoded column is float32 too
    fvals = {f.name: np.zeros(n, np.float32 if f.ftype == "float"
                              else np.float64) for f in plan.fixeds}
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
                    # occurrence — hand those rows off
                    lost = mk & sseen[m]
                    if lost.any():
                        fallback[lost] = True
                seen_of[m][mk] = False  # last member on the wire wins
        chosen[f.oneof][mk] = members.index(f.name) + 1

    active = ~err & (pos < end)
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
                        fvals[f.name][mk] = np.frombuffer(
                            gathered.tobytes(),
                            dtype="<f8" if width == 8 else "<f4")
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
                    # path only decodes the final winner — hand such rows
                    # (legal but rare) off
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
                    # decodes the winner. Duplicates (legal but rare) are
                    # handed off, same as dup strings.
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

    # strings FIRST: invalid UTF-8 flips rows to err
    strs = {f.name: _utf8(arr, sstart[f.name], send[f.name],
                          sseen[f.name] & ~err & ~fallback, err)
            for f in plan.strings}
    for f in plan.varints:
        if f.ftype == "uint32":  # raw value >= 2^63 doesn't fit int64
            fallback |= vseen[f.name] & (vvals[f.name] >= np.uint64(1 << 63))

    # one-level nested messages: one recursive walk per nested field over
    # every live submessage at once. A sub wire error kills the parent row
    # (py_decode raises through), a sub hand-off hands off the parent row.
    subs = {}
    for f in plan.messages:
        idxs = np.nonzero(mseen[f.name] & ~err & ~fallback)[0]
        sub_type = atype.field(f.name).type
        sub, serr, shand = _walk(arr, mstart[f.name][idxs],
                                 mend[f.name][idxs], np.zeros(idxs.size, bool),
                                 plan.subplans[f.name], sub_type)
        err[idxs[serr]] = True
        fallback[idxs[shand]] = True
        subs[f.name] = (idxs, pa.StructArray.from_arrays(
            sub, fields=list(sub_type)))

    dead = err | fallback
    cols = {}
    for f in plan.varints:
        v, seen = vvals[f.name], vseen[f.name]
        nulls = dead | ~seen if f.oneof else dead
        typ = atype.field(f.name).type
        if f.ftype.startswith("enum:"):
            # int32-truncate the raw varint (protobuf-java parity, same as
            # py_decode's _typed_varint)
            code = (v & np.uint64(0xFFFFFFFF)).astype(np.uint32).view(
                np.int32)
            if plan.proto_version == 2:  # pb2: codes pass through as ints
                cols[f.name] = pa.array(code.astype(np.int64), typ,
                                        mask=nulls)
                continue
            codes, names, default = plan.enum_tables[f.name]
            c = pa.array(code)
            # registered code -> its name, any other -> decimal string
            name = pc.coalesce(names.take(pc.index_in(c, value_set=codes)),
                               pc.cast(c, pa.string()))
            if not f.oneof:  # absent: the proto3 default name
                name = pc.if_else(pa.array(seen), name, default)
            cols[f.name] = _nulled(name, nulls)
            continue
        if f.ftype == "bool":
            cols[f.name] = pa.array(v != 0, typ, mask=nulls)
            continue
        if f.ftype in _SINT_TYPES:
            one = np.uint64(1)
            iv = ((v >> one) ^ (np.uint64(0) - (v & one))).view(np.int64)
        else:  # two's-complement reinterpret == py semantics (uint32 < 2^63)
            iv = v.view(np.int64)
        # int32 fields wrap like protobuf-java's readInt32
        cols[f.name] = pa.array(
            iv.astype(typ.to_pandas_dtype(), copy=False), typ, mask=nulls)

    for f in plan.strings:
        # absent oneof members are NULL; absent non-oneof strings keep the
        # proto3 "" default (the gather's output for 0-length rows)
        cols[f.name] = _nulled(strs[f.name],
                               dead | ~sseen[f.name] if f.oneof else dead)

    for f in plan.fixeds:
        # proto3 default 0.0 for absent (zeros init); NaN stays NaN
        cols[f.name] = pa.array(fvals[f.name], atype.field(f.name).type,
                                mask=dead)

    for f in plan.messages:
        idxs, sub = subs[f.name]
        at = np.zeros(n, np.int64)
        at[idxs] = np.arange(idxs.size)
        cols[f.name] = sub.take(pa.array(at, mask=dead | ~mseen[f.name]))

    for g, members in plan.oneof_groups.items():
        cols[f"oneof_{g}"] = pa.array([None, *members], pa.string()).take(
            np.where(dead, 0, chosen[g]))

    cols["error"] = pa.array([None, _WIRE_ERROR], pa.string()).take(
        err.view(np.int8))
    return [cols[f.name] for f in atype], err, fallback & ~err


def _nulled(a, nulls: np.ndarray):
    """``a``, an array without NULLs at offset 0, with the rows of ``nulls``
    set NULL: a new validity bitmap over the same value buffers."""
    if not nulls.any():
        return a
    valid = pa.py_buffer(np.packbits(~nulls, bitorder="little"))
    return pa.Array.from_buffers(a.type, len(a), [valid, *a.buffers()[1:]])


def _utf8(arr: np.ndarray, s: np.ndarray, e: np.ndarray, live: np.ndarray,
          err: np.ndarray):
    """The bytes ``arr[s[i]:e[i]]`` of each ``live`` row ("" elsewhere) as
    one ``pa.string()`` array. A row whose bytes are not UTF-8 is set in
    ``err`` and left "". One vectorized byte gather into a contiguous
    buffer plus Arrow's validating cast: no Python str is made on the fast
    path."""
    try:
        return _gather(arr, s, e, live).cast(pa.string())
    except pa.lib.ArrowInvalid:
        pass
    for i in np.nonzero(live)[0]:  # rare: isolate the invalid rows
        try:
            bytes(arr[s[i]:e[i]]).decode("utf-8")
        except UnicodeDecodeError:
            err[i] = True
    return _gather(arr, s, e, live & ~err).cast(pa.string())


def _gather(arr: np.ndarray, s: np.ndarray, e: np.ndarray, live: np.ndarray):
    n = s.shape[0]
    ls = np.where(live, e - s, 0)
    offsets = np.zeros(n + 1, np.int32)
    np.cumsum(ls, out=offsets[1:])
    total = int(offsets[-1])
    if total:
        row_idx = np.nonzero(ls)[0]
        # int32 gather indices: payload batches are far below 2 GiB and
        # first-touch page faults on fresh allocations are expensive in
        # a microVM — half-width temporaries halve that cost
        idx = np.arange(total, dtype=np.int32)
        idx += np.repeat((s[row_idx] - offsets[row_idx]).astype(np.int32),
                         ls[row_idx])
        data = arr[idx]
    else:
        data = np.zeros(0, np.uint8)
    # 32-bit offsets (pa.string, not large_string): Spark's StringType
    # struct children must be utf8, and batches are far below 2 GiB
    return pa.Array.from_buffers(
        pa.binary(), n, [None, pa.py_buffer(offsets), pa.py_buffer(data)])


# ---------------------------------------------------------------------------
# vectorized ENCODE: the Arrow-batch twin of flat_decode
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
