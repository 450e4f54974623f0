package graft.core;

import java.lang.invoke.MethodHandles;
import java.lang.invoke.VarHandle;
import java.nio.ByteOrder;

/**
 * Little-endian 64-bit loads and stores at any byte offset of a byte array:
 * the word access of every dense filter and sketch blob. The view handle is
 * a static final field, so the JIT compiles each call to one unaligned load
 * or store with a bounds check; a Scala object field is not a JIT constant
 * and Scala boxes the polymorphic call's result.
 */
final class LittleEndianJ {
    private static final VarHandle LONG =
        MethodHandles.byteArrayViewVarHandle(long[].class, ByteOrder.LITTLE_ENDIAN);

    private LittleEndianJ() {}

    static long getLong(byte[] b, int off) {
        return (long) LONG.get(b, off);
    }

    static void putLong(byte[] b, int off, long v) {
        LONG.set(b, off, v);
    }
}
