package org.sparkgraft;

import java.math.BigDecimal;
import java.util.ArrayList;
import java.util.Base64;
import java.util.HashMap;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;
import java.util.concurrent.ConcurrentHashMap;

import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF2;
import org.sparkproject.connect.protobuf.ByteString;
import org.sparkproject.connect.protobuf.DescriptorProtos;
import org.sparkproject.connect.protobuf.Descriptors;
import org.sparkproject.connect.protobuf.DynamicMessage;

/**
 * JVM-side protobuf wire decode straight to a Catalyst struct row (no
 * JSON print, no from_json re-parse): payload bytes -> DynamicMessage ->
 * Row, zero Python workers and zero Arrow exchange anywhere in the plan.
 *
 * Row layout (must match the StructType the Python side registers),
 * applied RECURSIVELY: a message's fields in DECLARED order — nested
 * singular messages as nested Rows, repeated fields as lists, map fields
 * as lists of (key, value) Rows — then one string slot per oneof carrying
 * the name of the member set on the wire (null when none).
 *
 * Presence contract (parity with the engine's Arrow decoder,
 * operators/pb_wire.py decode plan): fields WITH presence (oneof members,
 * singular message fields) are null unless set; no-presence proto3
 * scalars emit their defaults (getField returns them). Map entries
 * collapse last-value-wins keeping first-seen key order — exactly a
 * Python dict built in wire order, which is what py_decode produces.
 * Unsigned widths widen like the Arrow decoder's columns: uint32/fixed32
 * -> long, uint64/fixed64 -> DECIMAL(20,0) (full 2^64 range). Dialects
 * differ only in enums: pb3 -> NAME (String; unregistered codes pass
 * through as their DECIMAL STRING, matching the Arrow/vector paths),
 * pb2 -> code (Long, protobuf.rb:134-136).
 *
 * Scope: any non-RECURSIVE message graph (the Python schema builder
 * cannot express a recursive type as a finite StructType and routes
 * those — unicorn, human — to the Arrow decoder). This covers the
 * reference's nested hot shapes: repeated nested messages
 * (spec/codecs/pb3_decode_spec.rb:172-241 DNS questions) and proto3
 * maps. {@link #call} returns null (-> dead-letter row) on any parse
 * failure.
 */
public class WireDecodeRow implements UDF2<byte[], String, Row> {

    private static final ConcurrentHashMap<String, Entry> CACHE =
        new ConcurrentHashMap<>();

    /** Precomputed field/oneof arrays for one message descriptor. */
    private static final class Shape {
        final Descriptors.FieldDescriptor[] fields;
        final Descriptors.OneofDescriptor[] oneofs;

        Shape(Descriptors.Descriptor d) {
            this.fields = d.getFields()
                .toArray(new Descriptors.FieldDescriptor[0]);
            this.oneofs = d.getOneofs()
                .toArray(new Descriptors.OneofDescriptor[0]);
        }
    }

    private static final class Entry {
        final Descriptors.Descriptor descriptor;
        final Map<Descriptors.Descriptor, Shape> shapes = new HashMap<>();
        final boolean pb2;

        Entry(Descriptors.Descriptor descriptor, boolean pb2) {
            this.descriptor = descriptor;
            this.pb2 = pb2;
            collect(descriptor);
        }

        private void collect(Descriptors.Descriptor d) {
            if (shapes.containsKey(d)) {
                return;  // shared submessage (cycles are refused upstream)
            }
            shapes.put(d, new Shape(d));
            for (Descriptors.FieldDescriptor fd : d.getFields()) {
                if (fd.getJavaType()
                        == Descriptors.FieldDescriptor.JavaType.MESSAGE) {
                    collect(fd.getMessageType());
                }
            }
        }
    }

    private static Entry load(String cfg) {
        try {
            String[] parts = cfg.split("\\|", -1);
            byte[] setBytes = Base64.getDecoder().decode(parts[0]);
            DescriptorProtos.FileDescriptorSet set =
                DescriptorProtos.FileDescriptorSet.parseFrom(setBytes);
            List<Descriptors.FileDescriptor> files = new ArrayList<>();
            for (DescriptorProtos.FileDescriptorProto fdp : set.getFileList()) {
                files.add(Descriptors.FileDescriptor.buildFrom(
                    fdp, files.toArray(new Descriptors.FileDescriptor[0])));
            }
            String want = parts[1];
            Descriptors.Descriptor descriptor = null;
            for (Descriptors.FileDescriptor fd : files) {
                for (Descriptors.Descriptor d : fd.getMessageTypes()) {
                    if (d.getFullName().equals(want)) {
                        descriptor = d;
                    }
                }
            }
            if (descriptor == null) {
                throw new IllegalArgumentException(
                    "message not in descriptor set: " + want);
            }
            boolean pb2 = parts.length > 2 && "pb2".equals(parts[2]);
            return new Entry(descriptor, pb2);
        } catch (Exception e) {
            throw new IllegalArgumentException(
                "bad wire-decode config: " + e, e);
        }
    }

    private static Object convert(Object v,
                                  Descriptors.FieldDescriptor fd,
                                  Entry entry) {
        switch (fd.getJavaType()) {
            case ENUM:
                Descriptors.EnumValueDescriptor ev =
                    (Descriptors.EnumValueDescriptor) v;
                if (entry.pb2) {
                    return (long) ev.getNumber();
                }
                // open-enum unrecognized code: DynamicMessage hands back a
                // synthetic descriptor (index -1, UNKNOWN_ENUM_VALUE_* name)
                // — the engine contract decodes it as the DECIMAL STRING of
                // the int32 code, matching the Arrow decoder's passthrough
                return ev.getIndex() == -1
                    ? String.valueOf(ev.getNumber())
                    : (Object) ev.getName();
            case BYTE_STRING:
                return ((ByteString) v).toByteArray();
            case INT:
                // uint32/fixed32 live in a signed Integer: widen unsigned
                // (the Arrow decoder's column is already long-typed)
                Descriptors.FieldDescriptor.Type t32 = fd.getType();
                if (t32 == Descriptors.FieldDescriptor.Type.UINT32
                        || t32 == Descriptors.FieldDescriptor.Type.FIXED32) {
                    return Integer.toUnsignedLong((Integer) v);
                }
                return v;
            case LONG:
                // uint64/fixed64 live in a signed Long: full 2^64 range
                // only fits DECIMAL(20,0) — same type the Arrow path uses
                Descriptors.FieldDescriptor.Type t64 = fd.getType();
                if (t64 == Descriptors.FieldDescriptor.Type.UINT64
                        || t64 == Descriptors.FieldDescriptor.Type.FIXED64) {
                    return new BigDecimal(Long.toUnsignedString((Long) v));
                }
                return v;
            case MESSAGE:
                return buildRow((DynamicMessage) v, entry);
            default:
                return v;  // Float / Double / Boolean / String
        }
    }

    private static Object convertField(DynamicMessage message,
                                       Descriptors.FieldDescriptor fd,
                                       Entry entry) {
        if (fd.isMapField()) {
            // wire format is repeated {1:key, 2:value} entry messages;
            // collapse duplicates last-value-wins, first-seen key order —
            // bit-for-bit what a Python dict filled in wire order holds
            Descriptors.Descriptor ed = fd.getMessageType();
            Descriptors.FieldDescriptor kf = ed.findFieldByNumber(1);
            Descriptors.FieldDescriptor vf = ed.findFieldByNumber(2);
            LinkedHashMap<Object, Object> m = new LinkedHashMap<>();
            for (Object o : (List<?>) message.getField(fd)) {
                DynamicMessage e = (DynamicMessage) o;
                m.put(convert(e.getField(kf), kf, entry),
                      convert(e.getField(vf), vf, entry));
            }
            List<Row> out = new ArrayList<>(m.size());
            for (Map.Entry<Object, Object> en : m.entrySet()) {
                out.add(RowFactory.create(en.getKey(), en.getValue()));
            }
            return out;
        }
        if (fd.isRepeated()) {
            List<?> vs = (List<?>) message.getField(fd);
            List<Object> out = new ArrayList<>(vs.size());
            for (Object o : vs) {
                out.add(convert(o, fd, entry));
            }
            return out;
        }
        if (fd.hasPresence() && !message.hasField(fd)) {
            return null;
        }
        return convert(message.getField(fd), fd, entry);
    }

    private static Row buildRow(DynamicMessage message, Entry entry) {
        Shape shape = entry.shapes.get(message.getDescriptorForType());
        Object[] out = new Object[shape.fields.length + shape.oneofs.length];
        for (int i = 0; i < shape.fields.length; i++) {
            out[i] = convertField(message, shape.fields[i], entry);
        }
        for (int j = 0; j < shape.oneofs.length; j++) {
            Descriptors.FieldDescriptor set =
                message.getOneofFieldDescriptor(shape.oneofs[j]);
            out[shape.fields.length + j] = set == null ? null : set.getName();
        }
        return RowFactory.create(out);
    }

    @Override
    public Row call(byte[] payload, String cfg) {
        if (payload == null || cfg == null) {
            return null;
        }
        Entry entry = CACHE.computeIfAbsent(cfg, WireDecodeRow::load);
        DynamicMessage message;
        try {
            message = DynamicMessage.parseFrom(entry.descriptor, payload);
        } catch (Exception e) {
            return null;  // dead-letter: caller substitutes the error struct
        }
        return buildRow(message, entry);
    }
}
