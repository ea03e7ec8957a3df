package anglerfish.jvm;

import java.math.BigDecimal;
import java.math.BigInteger;
import java.time.Instant;
import java.time.LocalDate;
import java.time.LocalDateTime;
import java.time.LocalTime;
import java.time.ZoneOffset;
import java.util.HashSet;
import java.util.Iterator;
import java.util.LinkedHashMap;
import java.util.Map;

import com.fasterxml.jackson.core.JsonParser;
import com.fasterxml.jackson.databind.JsonNode;
import com.fasterxml.jackson.databind.ObjectMapper;
import org.apache.spark.sql.RowFactory;

/**
 * The decode program both readers walk: {@link AvroJsonDecoder} (Avro-JSON
 * text) and {@link AvroBinaryDecoder} (Avro binary).
 *
 * <p>The program (built by {@code codec/decoder.py}) is the parsed schema
 * unrolled to the decode depth: one JSON node per schema position, with
 * its kind, its error-path label, union branch keys, output names and
 * wire indexes, enum names and symbols, fixed sizes, logical annotations
 * and pre-decoded field defaults; a position cut by the depth bound is a
 * {@code truncated} node.  Both readers build the same values from it:
 * records as rows,
 * multi-member unions as rows keyed by output name, arrays as object
 * arrays, maps as maps and logical types as their java.time or
 * BigDecimal values.
 */
public final class DecodeProgram {
    static final int NULL = 0;
    static final int BOOLEAN = 1;
    static final int INT = 2;
    static final int LONG = 3;
    static final int FLOAT = 4;
    static final int DOUBLE = 5;
    static final int BYTES = 6;
    static final int STRING = 7;
    static final int ENUM = 8;
    static final int FIXED = 9;
    static final int ARRAY = 10;
    static final int MAP = 11;
    static final int UNION = 12;
    static final int RECORD = 13;
    static final int TRUNCATED = 14;

    static final int NO_LOGICAL = 0;
    static final int DATE = 1;
    static final int TIMESTAMP_MILLIS = 2;
    static final int TIMESTAMP_MICROS = 3;
    static final int LOCAL_TIMESTAMP_MILLIS = 4;
    static final int LOCAL_TIMESTAMP_MICROS = 5;
    static final int TIME_MILLIS = 6;
    static final int TIME_MICROS = 7;
    static final int DECIMAL = 8;

    /**
     * A defect of one datum, as {@code <Python error class>: <text>} with
     * the Python codec's text.  A JDK class, so the driver can read it back
     * from a failed task whatever class loader it uses.
     */
    static RuntimeException datumError(String kind, String text) {
        return new IllegalArgumentException(kind + ": " + text);
    }

    /** One schema position of the unrolled program. */
    static final class Node {
        int kind;
        int logical;
        String logicalName;
        int precision;
        int scale;
        BigInteger maxUnscaled;
        int size;
        boolean nullable;
        /** enum or fixed name */
        String name;
        /** enum symbols in order */
        String[] symbolList;
        /** enum symbols, or a union's branch keys */
        HashSet symbols;
        /** record field names, or union branch keys */
        String[] keys;
        /** union output field names */
        String[] names;
        /** union wire index -> position in kids, -1 for the null branch */
        int[] branches;
        /** record fields, union members, or the one element/value node */
        Node[] kids;
        boolean[] hasDefault;
        Object[] defaults;
        /** a truncated node: the text of a datum that reaches it */
        String deep;
        String unexpectedType;
        String unrepresentable;
        String recordError;
        String unionError;
        String resolutionError;
        String enumError;
        String fixedError;
    }

    final ObjectMapper json;
    final Node root;
    final boolean flat;
    /** the single-object fingerprint, or null for raw framing */
    final byte[] fingerprint;

    DecodeProgram(String spec) throws Exception {
        ObjectMapper m = new ObjectMapper();
        m.configure(JsonParser.Feature.ALLOW_SINGLE_QUOTES, true);
        m.configure(JsonParser.Feature.ALLOW_NON_NUMERIC_NUMBERS, true);
        JsonNode s = m.readTree(spec);
        json = m;
        flat = s.get("flat").booleanValue();
        root = node(s.get("root"));
        JsonNode fp = s.get("fp");
        fingerprint = fp == null ? null : hexBytes(fp.textValue());
    }

    /**
     * The value of a root record whose text is not an object: null on
     * the flat-record layout, else its fields' defaults.
     */
    Object rootDefaults() {
        if (root.kind != RECORD || flat) {
            return null;
        }
        Object[] out = new Object[root.kids.length];
        for (int i = 0; i < out.length; i++) {
            out[i] = root.hasDefault[i] ? root.defaults[i] : null;
        }
        return RowFactory.create(out);
    }

    static byte[] hexBytes(String hex) {
        byte[] out = new byte[hex.length() / 2];
        for (int i = 0; i < out.length; i++) {
            out[i] = (byte) Integer.parseInt(hex.substring(2 * i, 2 * i + 2), 16);
        }
        return out;
    }

    static String hex(byte[] b, int from, int to) {
        StringBuilder sb = new StringBuilder();
        for (int i = from; i < to; i++) {
            sb.append(Character.forDigit((b[i] >> 4) & 15, 16)).append(Character.forDigit(b[i] & 15, 16));
        }
        return sb.toString();
    }

    static int kindOf(String k) {
        String[] kinds = {"null", "boolean", "int", "long", "float", "double", "bytes", "string",
            "enum", "fixed", "array", "map", "union", "record", "truncated"};
        for (int i = 0; i < kinds.length; i++) {
            if (kinds[i].equals(k)) {
                return i;
            }
        }
        throw new IllegalArgumentException("unknown node kind " + k);
    }

    static int logicalOf(String name) {
        String[] names = {"", "date", "timestamp-millis", "timestamp-micros", "local-timestamp-millis",
            "local-timestamp-micros", "time-millis", "time-micros", "decimal"};
        for (int i = 0; i < names.length; i++) {
            if (names[i].equals(name)) {
                return i;
            }
        }
        return NO_LOGICAL;
    }

    /** Element {@code i} of a JSON array (typed, for Janino's overload resolution). */
    static JsonNode at(JsonNode a, int i) {
        return (JsonNode) a.get(i);
    }

    static Node node(JsonNode s) {
        Node n = new Node();
        n.kind = kindOf(s.get("k").textValue());
        String path = s.get("p").textValue();
        n.unexpectedType = ";UnexpectedTypeError@" + path;
        n.unrepresentable = ";UnrepresentableError@" + path;
        n.recordError = ";RecordError@" + path;
        n.unionError = ";UnionError@" + path;
        n.resolutionError = ";UnionResolutionError@" + path;
        n.enumError = ";EnumError@" + path;
        n.fixedError = ";FixedError@" + path;
        JsonNode l = s.get("l");
        if (l != null) {
            n.logicalName = l.get("n").textValue();
            n.logical = logicalOf(n.logicalName);
            if (n.logical == DECIMAL) {
                n.precision = l.get("p").intValue();
                n.scale = l.get("s").intValue();
                n.maxUnscaled = BigInteger.TEN.pow(n.precision).subtract(BigInteger.ONE);
            }
        }
        if (s.has("size")) {
            n.size = s.get("size").intValue();
        }
        if (s.has("e")) {
            n.deep = s.get("e").textValue();
        }
        if (s.has("name")) {
            n.name = s.get("name").textValue();
        }
        if (n.kind == ENUM) {
            JsonNode sy = s.get("s");
            n.symbols = new HashSet();
            n.symbolList = new String[sy.size()];
            for (int i = 0; i < sy.size(); i++) {
                n.symbolList[i] = at(sy, i).textValue();
                n.symbols.add(n.symbolList[i]);
            }
        } else if (n.kind == ARRAY || n.kind == MAP) {
            n.kids = new Node[] {node(s.get("t"))};
        } else if (n.kind == UNION) {
            JsonNode m = s.get("m");
            JsonNode b = s.get("b");
            n.nullable = s.get("nullable").booleanValue();
            n.symbols = new HashSet();
            n.keys = new String[m.size()];
            n.names = new String[m.size()];
            n.kids = new Node[m.size()];
            n.branches = new int[b.size()];
            for (int i = 0; i < m.size(); i++) {
                n.keys[i] = at(m, i).get("key").textValue();
                n.names[i] = at(m, i).get("name").textValue();
                n.symbols.add(n.keys[i]);
                n.kids[i] = node(at(m, i).get("t"));
            }
            for (int i = 0; i < n.branches.length; i++) {
                n.branches[i] = at(b, i).intValue();
            }
        } else if (n.kind == RECORD) {
            JsonNode f = s.get("f");
            n.keys = new String[f.size()];
            n.kids = new Node[f.size()];
            n.hasDefault = new boolean[f.size()];
            n.defaults = new Object[f.size()];
            for (int i = 0; i < f.size(); i++) {
                n.keys[i] = at(f, i).get("n").textValue();
                n.kids[i] = node(at(f, i).get("t"));
                n.hasDefault[i] = at(f, i).has("d");
                if (n.hasDefault[i]) {
                    n.defaults[i] = literal(n.kids[i], at(f, i).get("d"));
                }
            }
        }
        return n;
    }

    /**
     * A pre-decoded default as the UDF's output value: records and
     * multi-member unions arrive as objects keyed by output field name,
     * bytes as base64, decimals as strings, dates as days, and
     * timestamps and times as microseconds.
     */
    static Object literal(Node n, JsonNode v) {
        if (v == null || v.isNull()) {
            return null;
        }
        switch (n.kind) {
            case RECORD: {
                Object[] out = new Object[n.kids.length];
                for (int i = 0; i < out.length; i++) {
                    out[i] = literal(n.kids[i], v.get(n.keys[i]));
                }
                return RowFactory.create(out);
            }
            case UNION: {
                if (n.kids.length == 1) {
                    return literal(n.kids[0], v);
                }
                Object[] out = new Object[n.kids.length];
                for (int i = 0; i < out.length; i++) {
                    out[i] = literal(n.kids[i], v.get(n.names[i]));
                }
                return RowFactory.create(out);
            }
            case ARRAY: {
                Object[] out = new Object[v.size()];
                for (int i = 0; i < out.length; i++) {
                    out[i] = literal(n.kids[0], at(v, i));
                }
                return out;
            }
            case MAP: {
                LinkedHashMap out = new LinkedHashMap();
                Iterator it = v.fields();
                while (it.hasNext()) {
                    Map.Entry e = (Map.Entry) it.next();
                    out.put(e.getKey(), literal(n.kids[0], (JsonNode) e.getValue()));
                }
                return out;
            }
            case BOOLEAN:
                return Boolean.valueOf(v.booleanValue());
            case FLOAT:
                return Float.valueOf((float) v.doubleValue());
            case DOUBLE:
                return Double.valueOf(v.doubleValue());
            case BYTES:
            case FIXED:
                if (n.logical == DECIMAL) {
                    return new BigDecimal(v.textValue());
                }
                return java.util.Base64.getDecoder().decode(v.textValue());
            case INT:
            case LONG:
                if (n.logical == NO_LOGICAL) {
                    return n.kind == INT ? (Object) Integer.valueOf(v.intValue()) : (Object) Long.valueOf(v.longValue());
                }
                return temporal(n.logical, v.longValue(), true);
            case STRING:
            case ENUM:
                return v.textValue();
            default:
                return null;
        }
    }

    /** A temporal value from its carrier; default literals carry microseconds already. */
    static Object temporal(int logical, long v, boolean micros) {
        switch (logical) {
            case DATE:
                return LocalDate.ofEpochDay(v);
            case TIMESTAMP_MILLIS:
            case TIMESTAMP_MICROS: {
                long us = logical == TIMESTAMP_MILLIS && !micros ? Math.multiplyExact(v, 1000L) : v;
                return Instant.ofEpochSecond(Math.floorDiv(us, 1000000L), Math.floorMod(us, 1000000L) * 1000L);
            }
            case LOCAL_TIMESTAMP_MILLIS:
            case LOCAL_TIMESTAMP_MICROS: {
                long us = logical == LOCAL_TIMESTAMP_MILLIS && !micros ? Math.multiplyExact(v, 1000L) : v;
                return LocalDateTime.ofEpochSecond(
                    Math.floorDiv(us, 1000000L), (int) (Math.floorMod(us, 1000000L) * 1000L), ZoneOffset.UTC);
            }
            case TIME_MILLIS:
            case TIME_MICROS: {
                long us = logical == TIME_MILLIS && !micros ? v * 1000L : v;
                return LocalTime.ofNanoOfDay(us * 1000L);
            }
            default:
                return null;
        }
    }
}
