package anglerfish.jvm;

import static anglerfish.jvm.DecodeProgram.*;

import java.math.BigDecimal;
import java.math.BigInteger;
import java.util.Iterator;
import java.util.LinkedHashMap;
import java.util.Map;

import com.fasterxml.jackson.databind.JsonNode;
import org.apache.commons.codec.binary.Base64;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF1;

/**
 * Strict Avro-JSON decode of one JSON text against a decode program.
 *
 * <p>{@link #call} parses the text once and walks the token tree
 * against the {@link DecodeProgram}, returning {@code Row(decoded, errs)}: the value in
 * the {@code to_struct_type} shape and a string of {@code ;Code@path} tags,
 * null when the row is clean.
 *
 * <p>Tags come in the order of the schema: per record field (a
 * missing-required tag before the field's own tags), then the extra-key
 * check, then the shape check; at a union, member tags before the union's
 * own checks.  A collection whose typed parse fails (an element or value
 * that cannot take its type) reports one tag at its element path in place
 * of its elements' tags, and decodes to null.
 *
 * <p>Serialized state is the program string alone; its parse is rebuilt
 * per instance on first use.
 */
public class AvroJsonDecoder implements UDF1 {
    /** Typed-parse outcome of a node: whole, kept with a failed part inside, or failed. */
    static final int OK = 0;
    static final int PARTIAL = 1;
    static final int FAIL = 2;

    static final String MALFORMED = ";UnexpectedJsonTypeError@$";

    private final String program;
    private transient DecodeProgram parsed;

    public AvroJsonDecoder(String program) {
        this.program = program;
    }

    public Object call(Object text) throws Exception {
        if (text == null) {
            return null;
        }
        DecodeProgram p = parsed;
        if (p == null) {
            p = new DecodeProgram(program);
            parsed = p;
        }
        Walk w = new Walk();
        JsonNode t;
        try {
            t = p.json.readTree((String) text);
        } catch (Exception e) {
            t = null;
        }
        Object value;
        if (t == null || t.isMissingNode()) {
            w.errs.append(MALFORMED);
            value = ((String) text).trim().isEmpty() ? null : p.rootDefaults();
        } else if (t.isNull()) {
            if (p.root.kind == RECORD && !p.flat) {
                ghost(p.root, w);
            }
            value = p.rootDefaults();
        } else {
            value = decode(p.root, t, w);
            if (value == null) {
                value = p.rootDefaults();
            }
        }
        return RowFactory.create(new Object[] {value, w.errs.length() == 0 ? null : w.errs.toString()});
    }

    /** Per-row state: the tag channel and the typed-parse outcome of the last node. */
    static final class Walk {
        final StringBuilder errs = new StringBuilder();
        int status;
    }

    // ------------------------------------------------------------------
    // the walk
    // ------------------------------------------------------------------

    static Object fail(String tag, Walk w) {
        w.errs.append(tag);
        w.status = FAIL;
        return null;
    }

    /** The tags of a record given no object: each required field's, as given nothing. */
    static void ghost(Node n, Walk w) {
        for (int i = 0; i < n.kids.length; i++) {
            if (!n.hasDefault[i]) {
                decode(n.kids[i], null, w);
            }
        }
    }

    /** The text a string-typed position reads: a JSON string as is, any other token as compact JSON. */
    static String text(JsonNode t) {
        return t.isTextual() ? t.textValue() : t.toString();
    }

    /** Strict base64: whole quartets of the standard alphabet, '=' padding only at the end. */
    static boolean isBase64(String s) {
        int n = s.length();
        if (n % 4 != 0) {
            return false;
        }
        for (int i = 0; i < n; i++) {
            char c = s.charAt(i);
            if ((c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z') || (c >= '0' && c <= '9') || c == '+' || c == '/') {
                continue;
            }
            if (c == '=' && (i == n - 1 || (i == n - 2 && s.charAt(n - 1) == '='))) {
                continue;
            }
            return false;
        }
        return true;
    }

    static Object decode(Node n, JsonNode t, Walk w) {
        w.status = OK;
        if (t != null && t.isNull()) {
            t = null;
        }
        switch (n.kind) {
            case NULL:
                if (t != null) {
                    w.errs.append(n.unexpectedType);
                }
                return null;
            case TRUNCATED:
                if (t != null) {
                    w.errs.append(n.unrepresentable);
                }
                return null;
            case BOOLEAN:
                if (t == null) {
                    return null;
                }
                return t.isBoolean() ? (Object) Boolean.valueOf(t.booleanValue()) : fail(n.unexpectedType, w);
            case INT:
            case LONG:
                return integral(n, t, w);
            case FLOAT:
            case DOUBLE:
                return floating(n, t, w);
            case STRING:
                return t == null ? null : text(t);
            case ENUM: {
                if (t == null) {
                    return null;
                }
                String s = text(t);
                if (!n.symbols.contains(s)) {
                    w.errs.append(n.enumError);
                }
                return s;
            }
            case BYTES:
            case FIXED:
                return binary(n, t, w);
            case ARRAY:
                return array(n, t, w);
            case MAP:
                return map(n, t, w);
            case UNION:
                return union(n, t, w);
            default:
                return record(n, t, w);
        }
    }

    static Object integral(Node n, JsonNode t, Walk w) {
        if (t == null) {
            return null;
        }
        if (!t.isIntegralNumber()) {
            return fail(n.unexpectedType, w);
        }
        if (!t.canConvertToLong()) {
            return fail(n.unrepresentable, w);
        }
        long v = t.longValue();
        if (n.kind == INT && (v < Integer.MIN_VALUE || v > Integer.MAX_VALUE)) {
            w.errs.append(n.unexpectedType);
            return null;
        }
        if (n.logical == NO_LOGICAL) {
            return n.kind == INT ? (Object) Integer.valueOf((int) v) : (Object) Long.valueOf(v);
        }
        if (n.logical == TIME_MILLIS || n.logical == TIME_MICROS) {
            long day = n.logical == TIME_MILLIS ? 86400000L : 86400000000L;
            if (v < 0 || v >= day) {
                w.errs.append(n.unrepresentable);
                return null;
            }
        }
        return temporal(n.logical, v, false);
    }

    static Object floating(Node n, JsonNode t, Walk w) {
        if (t == null) {
            return null;
        }
        if (!t.isNumber()) {
            return fail(n.unexpectedType, w);
        }
        double d = t.doubleValue();
        if (n.kind == FLOAT) {
            float f = (float) d;
            if (!Double.isNaN(d) && (double) f != d) {
                w.errs.append(n.unrepresentable);
            }
            if (t.isIntegralNumber()) {
                w.errs.append(n.unexpectedType);
            }
            return Float.valueOf(f);
        }
        if (t.isIntegralNumber()) {
            w.errs.append(n.unexpectedType);
        }
        return Double.valueOf(d);
    }

    static Object binary(Node n, JsonNode t, Walk w) {
        if (t == null) {
            return null;
        }
        String s = text(t);
        byte[] b = Base64.decodeBase64(s);
        if (!isBase64(s)) {
            w.errs.append(n.unexpectedType);
        } else if (n.kind == FIXED && b.length != n.size) {
            w.errs.append(n.fixedError);
        }
        if (n.logical != DECIMAL) {
            return b;
        }
        if (b.length == 0) {
            return null;
        }
        BigInteger unscaled = new BigInteger(b);
        if (unscaled.abs().compareTo(n.maxUnscaled) > 0) {
            w.errs.append(n.unrepresentable);
            return null;
        }
        return new BigDecimal(unscaled, n.scale);
    }

    static Object array(Node n, JsonNode t, Walk w) {
        if (t == null) {
            return null;
        }
        if (!t.isArray()) {
            return fail(n.unexpectedType, w);
        }
        Node item = n.kids[0];
        int mark = w.errs.length();
        int status = OK;
        Object[] out = new Object[t.size()];
        for (int i = 0; i < out.length; i++) {
            out[i] = decode(item, at(t, i), w);
            if (w.status == FAIL) {
                w.errs.setLength(mark);
                return fail(item.unexpectedType, w);
            }
            status = Math.max(status, w.status);
        }
        w.status = status;
        return out;
    }

    static Object map(Node n, JsonNode t, Walk w) {
        if (t == null) {
            return null;
        }
        if (!t.isObject()) {
            return fail(n.unexpectedType, w);
        }
        Node value = n.kids[0];
        int mark = w.errs.length();
        int status = OK;
        LinkedHashMap out = new LinkedHashMap();
        Iterator it = t.fields();
        while (it.hasNext()) {
            Map.Entry e = (Map.Entry) it.next();
            Object v = decode(value, (JsonNode) e.getValue(), w);
            if (w.status == FAIL) {
                w.errs.setLength(mark);
                return fail(value.unexpectedType, w);
            }
            status = Math.max(status, w.status);
            out.put(e.getKey(), v);
        }
        w.status = status;
        return out;
    }

    static Object union(Node n, JsonNode t, Walk w) {
        if (n.kids.length == 0) {
            if (t != null) {
                w.errs.append(n.unionError);
            }
            return null;
        }
        if (t == null) {
            if (!n.nullable) {
                w.errs.append(n.unionError);
            }
            return null;
        }
        if (!t.isObject()) {
            return fail(n.unionError, w);
        }
        int status = OK;
        Object[] out = new Object[n.kids.length];
        for (int i = 0; i < out.length; i++) {
            out[i] = decode(n.kids[i], t.get(n.keys[i]), w);
            if (w.status != OK) {
                status = PARTIAL;
            }
        }
        if (t.size() != 1) {
            w.errs.append(n.unionError);
        } else if (!n.symbols.contains((String) t.fieldNames().next())) {
            w.errs.append(n.resolutionError);
        }
        w.status = status;
        return out.length == 1 ? out[0] : RowFactory.create(out);
    }

    static Object record(Node n, JsonNode t, Walk w) {
        if (t == null) {
            ghost(n, w);
            w.status = OK;
            return null;
        }
        if (!t.isObject()) {
            ghost(n, w);
            return fail(n.unexpectedType, w);
        }
        int status = OK;
        int present = 0;
        Object[] out = new Object[n.kids.length];
        for (int i = 0; i < out.length; i++) {
            JsonNode v = t.get(n.keys[i]);
            if (v != null) {
                present++;
            } else if (n.hasDefault[i]) {
                out[i] = n.defaults[i];
                continue;
            } else {
                w.errs.append(n.kids[i].recordError);
            }
            out[i] = decode(n.kids[i], v, w);
            if (w.status != OK) {
                status = PARTIAL;
            }
        }
        if (t.size() > present) {
            w.errs.append(n.recordError);
        }
        w.status = status;
        return RowFactory.create(out);
    }
}
