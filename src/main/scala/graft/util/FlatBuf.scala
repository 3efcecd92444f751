package graft.util

/** Minimal flatbuffers layer (Google flatbuffers wire format, the
  * public spec at google.github.io/flatbuffers/md__internals.html) —
  * just enough to WRITE and READ the Apache Arrow IPC metadata
  * tables (Message / Schema / RecordBatch / Footer), hand-rolled the
  * way the other graft codecs hand-assemble their bitstreams so the
  * oracle-fixture writer stays closed-form.
  *
  * Wire format essentials implemented here:
  *  - little-endian scalars, aligned to their own size FROM THE
  *    BUFFER END (the builder grows downward; the finished buffer's
  *    total length is a multiple of the max alignment, so from-end
  *    alignment equals absolute alignment);
  *  - tables: [int32 soffset to vtable][inline fields...], vtable =
  *    [uint16 vtable bytes][uint16 table bytes][uint16 field offsets,
  *    0 = absent];
  *  - vectors: [int32 length][elements]; strings = byte vectors with
  *    a trailing NUL;
  *  - references: uint32 forward offsets (target − position);
  *  - root: uint32 offset at buffer start.
  *
  * No vtable deduplication (fixture metadata is tiny), no shared
  * strings, no force-defaults — none affect wire compatibility.
  */
object FlatBuf {

  /** Builder — the standard back-to-front algorithm. Positions are
    * tracked as offsets FROM THE BUFFER END (`offset()`), exactly
    * like the reference implementation.
    */
  final class Builder(initial: Int = 1024) {
    private var buf = new Array[Byte](math.max(initial, 64))
    private var head = buf.length
    private var minalign = 1
    private var vtable: Array[Int] = null
    private var objectStart = 0

    private def offset: Int = buf.length - head

    private def grow(needed: Int): Unit = {
      if (head >= needed) return
      var n = buf.length
      while (n - (buf.length - head) < needed) n *= 2
      val nb = new Array[Byte](n)
      System.arraycopy(buf, head, nb, n - (buf.length - head), buf.length - head)
      head = n - (buf.length - head)
      buf = nb
    }

    /** Align so the NEXT `size`-byte write (after `additional` more
      * bytes) lands `size`-aligned from the buffer end.
      */
    private def prep(size: Int, additional: Int): Unit = {
      if (size > minalign) minalign = size
      val alignSize = ((~(buf.length - head + additional)) + 1) & (size - 1)
      grow(alignSize + size + additional)
      var i = 0
      while (i < alignSize) { head -= 1; buf(head) = 0; i += 1 }
    }

    private def putByte(v: Byte): Unit = { head -= 1; buf(head) = v }
    private def putShort(v: Short): Unit = {
      head -= 2; buf(head) = (v & 0xff).toByte; buf(head + 1) = ((v >> 8) & 0xff).toByte
    }
    private def putInt(v: Int): Unit = {
      head -= 4
      buf(head) = (v & 0xff).toByte; buf(head + 1) = ((v >> 8) & 0xff).toByte
      buf(head + 2) = ((v >> 16) & 0xff).toByte; buf(head + 3) = ((v >>> 24) & 0xff).toByte
    }
    private def putLong(v: Long): Unit = {
      head -= 8
      var i = 0
      while (i < 8) { buf(head + i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    }

    def addByte(v: Byte): Unit = { prep(1, 0); putByte(v) }
    def addShort(v: Short): Unit = { prep(2, 0); putShort(v) }
    def addInt(v: Int): Unit = { prep(4, 0); putInt(v) }
    def addLong(v: Long): Unit = { prep(8, 0); putLong(v) }

    /** Write a forward reference to an object previously finished at
      * from-end offset `off`.
      */
    def addOffset(off: Int): Unit = {
      prep(4, 0)
      require(off <= offset, "flatbuf: offset points past the buffer")
      putInt(offset - off + 4)
    }

    // ---- vectors / strings ----

    def startVector(elemSize: Int, count: Int, alignment: Int): Unit = {
      prep(4, elemSize * count)
      prep(alignment, elemSize * count)
    }

    def endVector(count: Int): Int = { putInt(count); offset }

    def createString(s: String): Int = {
      val bytes = s.getBytes("UTF-8")
      addByte(0) // NUL terminator
      startVector(1, bytes.length, 1)
      head -= bytes.length
      System.arraycopy(bytes, 0, buf, head, bytes.length)
      endVector(bytes.length)
    }

    // ---- tables ----

    def startTable(numFields: Int): Unit = {
      vtable = new Array[Int](numFields)
      objectStart = offset
    }

    private def slot(idx: Int): Unit = vtable(idx) = offset

    def addFieldByte(idx: Int, v: Byte, default: Byte): Unit =
      if (v != default) { addByte(v); slot(idx) }
    def addFieldShort(idx: Int, v: Short, default: Short): Unit =
      if (v != default) { addShort(v); slot(idx) }
    def addFieldInt(idx: Int, v: Int, default: Int): Unit =
      if (v != default) { addInt(v); slot(idx) }
    def addFieldLong(idx: Int, v: Long, default: Long): Unit =
      if (v != default) { addLong(v); slot(idx) }
    def addFieldBool(idx: Int, v: Boolean, default: Boolean): Unit =
      if (v != default) { addByte(if (v) 1 else 0); slot(idx) }
    def addFieldOffset(idx: Int, off: Int): Unit =
      if (off != 0) { addOffset(off); slot(idx) }

    def endTable(): Int = {
      addInt(0) // placeholder for the soffset to the vtable
      val vtableloc = offset
      // trim trailing absent fields
      var trimmed = vtable.length
      while (trimmed > 0 && vtable(trimmed - 1) == 0) trimmed -= 1
      var i = trimmed - 1
      while (i >= 0) {
        addShort(if (vtable(i) != 0) (vtableloc - vtable(i)).toShort else 0)
        i -= 1
      }
      addShort((vtableloc - objectStart).toShort) // table byte size
      addShort(((trimmed + 2) * 2).toShort) // vtable byte size
      // patch the placeholder: soffset = vtable_from_end − table_from_end
      val tablePos = buf.length - vtableloc
      val so = offset - vtableloc
      buf(tablePos) = (so & 0xff).toByte
      buf(tablePos + 1) = ((so >> 8) & 0xff).toByte
      buf(tablePos + 2) = ((so >> 16) & 0xff).toByte
      buf(tablePos + 3) = ((so >>> 24) & 0xff).toByte
      vtable = null
      vtableloc
    }

    /** Finish with `root` and return the buffer (length a multiple of
      * 8 so absolute alignment holds wherever it is embedded on an
      * 8-byte boundary).
      */
    def finish(root: Int): Array[Byte] = {
      if (minalign < 8) minalign = 8
      prep(minalign, 4)
      addOffset(root)
      java.util.Arrays.copyOfRange(buf, head, buf.length)
    }
  }

  /** Reader — positional accessors over a finished buffer. All
    * methods take ABSOLUTE positions; `None`/0 conventions follow
    * the wire format (vtable slot 0 = field absent).
    */
  final class Reader(val buf: Array[Byte], val base: Int, val limit: Int) {
    def this(buf: Array[Byte]) = this(buf, 0, buf.length)

    def u8(p: Int): Int = buf(p) & 0xff
    def i16(p: Int): Int = (buf(p) & 0xff) | ((buf(p + 1) & 0xff) << 8)
    def i32(p: Int): Int =
      (buf(p) & 0xff) | ((buf(p + 1) & 0xff) << 8) |
        ((buf(p + 2) & 0xff) << 16) | ((buf(p + 3) & 0xff) << 24)
    def i64(p: Int): Long = {
      var v = 0L; var i = 0
      while (i < 8) { v |= (buf(p + i) & 0xffL) << (8 * i); i += 1 }
      v
    }

    def root: Int = base + i32(base)

    /** Absolute position of field `idx` in the table at `t`, or 0 if
      * absent.
      */
    def field(t: Int, idx: Int): Int = {
      val vt = t - i32(t)
      val vtSize = i16(vt)
      val slot = 4 + idx * 2
      if (slot >= vtSize) return 0
      val off = i16(vt + slot)
      if (off == 0) 0 else t + off
    }

    def fieldI16(t: Int, idx: Int, default: Int): Int = {
      val p = field(t, idx); if (p == 0) default else i16(p)
    }
    def fieldI32(t: Int, idx: Int, default: Int): Int = {
      val p = field(t, idx); if (p == 0) default else i32(p)
    }
    def fieldI64(t: Int, idx: Int, default: Long): Long = {
      val p = field(t, idx); if (p == 0) default else i64(p)
    }
    def fieldBool(t: Int, idx: Int, default: Boolean): Boolean = {
      val p = field(t, idx); if (p == 0) default else buf(p) != 0
    }
    def fieldU8(t: Int, idx: Int, default: Int): Int = {
      val p = field(t, idx); if (p == 0) default else u8(p)
    }

    /** Follow the uoffset at `p` to the referenced object. */
    def indirect(p: Int): Int = p + i32(p)

    /** Table/vector/string field: absolute position of the target, or
      * 0 if absent.
      */
    def fieldRef(t: Int, idx: Int): Int = {
      val p = field(t, idx); if (p == 0) 0 else indirect(p)
    }

    def vecLen(v: Int): Int = i32(v)
    def vecElems(v: Int): Int = v + 4

    def string(v: Int): String = {
      val n = i32(v)
      new String(buf, v + 4, n, "UTF-8")
    }
  }
}
