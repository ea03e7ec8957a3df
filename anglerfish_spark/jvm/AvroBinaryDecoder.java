package anglerfish.jvm;

import static anglerfish.jvm.DecodeProgram.*;

import java.math.BigDecimal;
import java.math.BigInteger;
import java.nio.ByteBuffer;
import java.nio.charset.CharacterCodingException;
import java.nio.charset.StandardCharsets;
import java.util.ArrayList;
import java.util.LinkedHashMap;

import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF1;

/**
 * Strict decode of one Avro binary message against a decode program.
 *
 * <p>The message is a raw body, or a single-object frame (0xC3 0x01, the
 * reader's 8-byte CRC-64-AVRO fingerprint, the body) when the program
 * carries a fingerprint.  {@link #call} walks the body once against the
 * {@link DecodeProgram} and returns the value in the
 * {@code to_struct_type} shape, the same value the JSON reader builds.
 * A defective message throws with {@code DatumError: <text>} (or
 * {@code UnrepresentableError: <text>} for a logical value out of range),
 * the text of the Python codec ({@code functions/avro_binary.py}); offsets
 * count from the start of the body.  A datum nested deeper than the
 * decode depth is unrepresentable, as in the JSON reader.
 *
 * <p>Serialized state is the program string alone; its parse is rebuilt
 * per instance on first use.
 */
public class AvroBinaryDecoder implements UDF1 {
    private final String program;
    private transient DecodeProgram parsed;

    public AvroBinaryDecoder(String program) {
        this.program = program;
    }

    public Object call(Object message) throws Exception {
        if (message == null) {
            return null;
        }
        DecodeProgram p = parsed;
        if (p == null) {
            p = new DecodeProgram(program);
            parsed = p;
        }
        byte[] buf = (byte[]) message;
        int start = 0;
        byte[] fp = p.fingerprint;
        if (fp != null) {
            if (buf.length < 10 || buf[0] != (byte) 0xC3 || buf[1] != (byte) 0x01) {
                throw datumError("DatumError", "not a single-object-encoded Avro message");
            }
            for (int i = 0; i < 8; i++) {
                if (buf[2 + i] != fp[i]) {
                    throw datumError("DatumError", "schema fingerprint mismatch: message " + hex(buf, 2, 10)
                        + ", reader " + hex(fp, 0, 8));
                }
            }
            start = 10;
        }
        Body b = new Body(buf, start);
        Object value = read(p.root, b);
        if (b.pos != buf.length) {
            throw datumError("DatumError", "trailing bytes after decode: " + (buf.length - b.pos));
        }
        return value;
    }

    /** The body being read: offsets in messages count from {@code base}. */
    static final class Body {
        final byte[] buf;
        final int base;
        int pos;

        Body(byte[] buf, int base) {
            this.buf = buf;
            this.base = base;
            this.pos = base;
        }

        long varint() {
            int shift = 0;
            long acc = 0;
            while (true) {
                if (shift > 63) {
                    throw datumError("DatumError", "varint longer than 10 bytes at offset " + (pos - base));
                }
                if (pos >= buf.length) {
                    throw datumError("DatumError", "truncated varint at offset " + (pos - base));
                }
                int x = buf[pos++];
                acc |= ((long) (x & 0x7F)) << shift;
                if ((x & 0x80) == 0) {
                    return (acc >>> 1) ^ -(acc & 1);
                }
                shift += 7;
            }
        }

        /** The offset of the next {@code n} bytes, which are then consumed. */
        int take(long n) {
            if (n < 0 || n > buf.length - pos) {
                throw datumError("DatumError", "length " + n + " at offset " + (pos - base)
                    + " overruns buffer of " + (buf.length - base));
            }
            int at = pos;
            pos += (int) n;
            return at;
        }

        byte[] bytes(long n) {
            int at = take(n);
            byte[] out = new byte[(int) n];
            System.arraycopy(buf, at, out, 0, out.length);
            return out;
        }

        String string() {
            long n = varint();
            int at = take(n);
            for (int i = at; i < pos; i++) {
                if (buf[i] < 0) {
                    try {
                        return StandardCharsets.UTF_8.newDecoder().decode(ByteBuffer.wrap(buf, at, pos - at)).toString();
                    } catch (CharacterCodingException e) {
                        throw datumError("DatumError", "invalid UTF-8 in string at offset " + (at - base));
                    }
                }
            }
            return new String(buf, at, pos - at, StandardCharsets.ISO_8859_1);
        }

        long little(int n) {
            int at = take(n);
            long v = 0;
            for (int i = n - 1; i >= 0; i--) {
                v = (v << 8) | (buf[at + i] & 0xFFL);
            }
            return v;
        }
    }

    static Object read(Node n, Body b) {
        switch (n.kind) {
            case NULL:
                return null;
            case BOOLEAN:
                return Boolean.valueOf(b.buf[b.take(1)] == 1);
            case INT:
            case LONG:
                return integral(n, b.varint());
            case FLOAT:
                return Float.valueOf(Float.intBitsToFloat((int) b.little(4)));
            case DOUBLE:
                return Double.valueOf(Double.longBitsToDouble(b.little(8)));
            case STRING:
                return b.string();
            case BYTES:
                return binary(n, b.bytes(b.varint()));
            case FIXED:
                return binary(n, b.bytes(n.size));
            case ENUM: {
                long i = b.varint();
                if (i < 0 || i >= n.symbolList.length) {
                    throw datumError("DatumError", "enum index " + i + " out of range for " + n.name);
                }
                return n.symbolList[(int) i];
            }
            case ARRAY: {
                ArrayList out = new ArrayList();
                for (long k = block(b); k != 0; k = block(b)) {
                    for (long i = 0; i < k; i++) {
                        out.add(read(n.kids[0], b));
                    }
                }
                return out.toArray();
            }
            case MAP: {
                LinkedHashMap out = new LinkedHashMap();
                for (long k = block(b); k != 0; k = block(b)) {
                    for (long i = 0; i < k; i++) {
                        String key = b.string();
                        out.put(key, read(n.kids[0], b));
                    }
                }
                return out;
            }
            case UNION: {
                long i = b.varint();
                if (i < 0 || i >= n.branches.length) {
                    throw datumError("DatumError", "union branch index " + i + " out of range");
                }
                int m = n.branches[(int) i];
                if (m < 0) {
                    return null;
                }
                Object v = read(n.kids[m], b);
                if (n.kids.length == 1) {
                    return v;
                }
                Object[] out = new Object[n.kids.length];
                out[m] = v;
                return RowFactory.create(out);
            }
            case TRUNCATED:
                throw datumError("UnrepresentableError", n.deep);
            default: {
                Object[] out = new Object[n.kids.length];
                for (int i = 0; i < out.length; i++) {
                    out[i] = read(n.kids[i], b);
                }
                return RowFactory.create(out);
            }
        }
    }

    /** The item count of the next collection block, 0 at the end. */
    static long block(Body b) {
        long k = b.varint();
        if (k < 0) {
            b.varint(); // the block's byte size
            k = -k;
        }
        return k;
    }

    static Object integral(Node n, long v) {
        if (n.kind == INT && (v < Integer.MIN_VALUE || v > Integer.MAX_VALUE)) {
            throw datumError("UnrepresentableError", "$: " + v + " out of range for int");
        }
        if (n.logical == NO_LOGICAL) {
            return n.kind == INT ? (Object) Integer.valueOf((int) v) : (Object) Long.valueOf(v);
        }
        if (n.logical == TIME_MILLIS || n.logical == TIME_MICROS) {
            long day = n.logical == TIME_MILLIS ? 86400000L : 86400000000L;
            if (v < 0 || v >= day) {
                throw datumError("UnrepresentableError", "$: " + v + " outside a day for " + n.logicalName);
            }
        }
        return temporal(n.logical, v, false);
    }

    static Object binary(Node n, byte[] v) {
        if (n.logical != DECIMAL) {
            return v;
        }
        BigInteger unscaled = v.length == 0 ? BigInteger.ZERO : new BigInteger(v);
        if (unscaled.abs().compareTo(n.maxUnscaled) > 0) {
            throw datumError("UnrepresentableError", "$: unscaled " + unscaled + " exceeds decimal precision " + n.precision);
        }
        return new BigDecimal(unscaled, n.scale);
    }
}
