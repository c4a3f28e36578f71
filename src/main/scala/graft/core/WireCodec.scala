package graft.core

/** The one writer every wire format emits through: big-endian fixed
  * fields, unsigned LEB128 varints, length-prefixed blobs, and the
  * sparse-or-dense cell section the counting sketches share. Grows like
  * a `ByteArrayOutputStream` but writes into one plain array. */
final class WireWriter(sizeHint: Int = 64) {
  private var buf = new Array[Byte](math.max(16, sizeHint))
  private var pos = 0

  @inline private def room(n: Int): Unit =
    if (pos + n > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(buf.length * 2, pos + n))

  def byte(v: Int): this.type = { room(1); buf(pos) = v.toByte; pos += 1; this }

  def int(v: Int): this.type = {
    room(4)
    buf(pos) = (v >>> 24).toByte; buf(pos + 1) = (v >>> 16).toByte
    buf(pos + 2) = (v >>> 8).toByte; buf(pos + 3) = v.toByte
    pos += 4
    this
  }

  def long(v: Long): this.type = int((v >>> 32).toInt).int(v.toInt)

  def double(v: Double): this.type = long(java.lang.Double.doubleToRawLongBits(v))

  def bytes(b: Array[Byte]): this.type = {
    room(b.length); System.arraycopy(b, 0, buf, pos, b.length); pos += b.length; this
  }

  def varint(v0: Long): this.type = {
    room(10)
    var v = v0
    while ((v & ~0x7fL) != 0L) { buf(pos) = ((v & 0x7f) | 0x80).toByte; pos += 1; v >>>= 7 }
    buf(pos) = v.toByte
    pos += 1
    this
  }

  /** Int length then the bytes; a null blob is length -1. */
  def blob(b: Array[Byte]): this.type = if (b == null) int(-1) else int(b.length).bytes(b)

  /** A cell section over cells `0 until n` (see [[WireWriter.cellsSize]]
    * for the layout). `cell(i)` reads cell i; `nonZero`, when not null,
    * lists in ascending order the only indexes that can be nonzero, so
    * a sparse in-memory table is never scanned cell by cell. */
  def cells(n: Int, width: Int, signed: Boolean, nonZero: Array[Int])(cell: Int => Long): this.type = {
    val plan = WireWriter.plan(n, width, signed, nonZero, cell)
    room(plan.bytes)
    if (plan.sparse) {
      byte(1).varint(plan.nnz)
      var prev = -1
      WireWriter.foreachNonZero(n, nonZero, cell) { (i, c) =>
        varint((i - prev - 1).toLong).varint(WireWriter.enc(c, signed))
        prev = i
      }
    } else {
      byte(0)
      var o = 0
      var i = 0
      while (i < n) {
        val c = if (nonZero == null) cell(i)
          else if (o < nonZero.length && nonZero(o) == i) { o += 1; cell(i) } else 0L
        if (width == 8) long(c) else varint(WireWriter.enc(c, signed))
        i += 1
      }
    }
    this
  }

  def toBytes: Array[Byte] = if (pos == buf.length) buf else java.util.Arrays.copyOf(buf, pos)
}

object WireWriter {
  /** Blobs back to back, each [[WireWriter.blob]]-framed, no count: the
    * multi-sketch buffers' format. */
  def blobs(bs: Array[Array[Byte]]): Array[Byte] = {
    val out = new WireWriter(bs.map(_.length + 4).sum)
    bs.foreach(out.blob)
    out.toBytes
  }

  private def varintLen(v0: Long): Int = {
    var v = v0
    var len = 1
    while ((v & ~0x7fL) != 0L) { v >>>= 7; len += 1 }
    len
  }

  @inline private def zigzag(v: Long): Long = (v << 1) ^ (v >> 63)
  @inline private[core] def unzigzag(v: Long): Long = (v >>> 1) ^ -(v & 1L)
  @inline private def enc(c: Long, signed: Boolean): Long = if (signed) zigzag(c) else c

  /** Bytes of the section [[WireWriter.cells]] writes: a mode byte,
    * then whichever form is smaller (dense on a tie) —
    *  - sparse (mode 1): the nonzero count, then per nonzero cell its
    *    index gap from the previous one and its value, all varints;
    *  - dense (mode 0): every cell, as 8 bytes when `width` is 8 or as
    *    a varint when it is 0.
    * Varint values are zigzagged when `signed`. The choice is a pure
    * function of the cell contents, so equal contents encode to equal
    * bytes however they were built. */
  def cellsSize(n: Int, width: Int, signed: Boolean, nonZero: Array[Int])(cell: Int => Long): Int =
    plan(n, width, signed, nonZero, cell).bytes

  private final class Plan(val nnz: Int, val sparse: Boolean, val bytes: Int)

  /** Both forms' costs in one pass over the nonzero cells. */
  private def plan(n: Int, width: Int, signed: Boolean, nonZero: Array[Int], cell: Int => Long): Plan = {
    var nnz = 0
    var sparse = 0L
    var nonZeroDense = 0L
    var prev = -1
    foreachNonZero(n, nonZero, cell) { (i, c) =>
      val len = varintLen(enc(c, signed))
      nnz += 1
      sparse += varintLen((i - prev - 1).toLong) + len
      nonZeroDense += len
      prev = i
    }
    sparse += varintLen(nnz.toLong)
    val dense = if (width == 8) 8L * n else (n - nnz) + nonZeroDense // a zero varint is one byte
    val bytes = 1L + math.min(sparse, dense)
    require(bytes <= Int.MaxValue, s"cell section of $bytes bytes")
    new Plan(nnz, sparse < dense, bytes.toInt)
  }

  private def foreachNonZero(n: Int, nonZero: Array[Int], cell: Int => Long)(f: (Int, Long) => Unit): Unit = {
    val m = if (nonZero == null) n else nonZero.length
    var e = 0
    while (e < m) {
      val i = if (nonZero == null) e else nonZero(e)
      val c = cell(i)
      if (c != 0L) f(i, c)
      e += 1
    }
  }
}

/** The one checked reader every wire format parses through. Every
  * read is bounded by the bytes left; every declared count is checked
  * against them before anything is allocated; varints are at most ten
  * bytes; [[finish]] requires the whole blob was consumed. Every
  * failure, including a sketch constructor's `require` on a decoded
  * header (see [[construct]]), is an `IllegalArgumentException` whose
  * message names the format and the field. */
final class WireReader(data: Array[Byte], val format: String) {
  require(data != null, s"$format wire: null blob")
  private var pos = 0

  def remaining: Int = data.length - pos

  def fail(field: String, what: String): Nothing =
    throw new IllegalArgumentException(s"$format wire: $field: $what")

  /** For header fields; per-element loops test and [[fail]] inline,
    * which builds no message thunk. */
  def check(ok: Boolean, field: String, what: => String): Unit = if (!ok) fail(field, what)

  @inline private def take(field: String, n: Int): Int = {
    if (n > remaining) fail(field, s"truncated: needs $n bytes, $remaining left")
    val p = pos
    pos += n
    p
  }

  /** One byte, unsigned. */
  def byte(field: String): Int = data(take(field, 1)) & 0xff

  def int(field: String): Int = {
    val p = take(field, 4)
    ((data(p) & 0xff) << 24) | ((data(p + 1) & 0xff) << 16) |
      ((data(p + 2) & 0xff) << 8) | (data(p + 3) & 0xff)
  }

  def long(field: String): Long = (int(field).toLong << 32) | (int(field) & 0xffffffffL)

  def double(field: String): Double = java.lang.Double.longBitsToDouble(long(field))

  def bytes(field: String, n: Int): Array[Byte] = {
    check(n >= 0, field, s"negative length $n")
    val p = take(field, n)
    java.util.Arrays.copyOfRange(data, p, p + n)
  }

  def varint(field: String): Long = {
    var v = 0L
    var shift = 0
    var b = 0
    do {
      if (shift >= 64) fail(field, "varint longer than 10 bytes")
      b = byte(field)
      v |= (b & 0x7fL) << shift
      shift += 7
    } while ((b & 0x80) != 0)
    v
  }

  /** A count of items each at least `minBytes` long, checked against
    * the bytes left before the caller allocates for it. */
  def count(field: String, n: Long, minBytes: Int): Int = {
    check(n >= 0 && n <= remaining / minBytes, field,
      s"$n entries of >= $minBytes bytes exceed the $remaining bytes left")
    n.toInt
  }

  /** [[WireWriter.blob]]'s inverse; a length of -1 reads as null only
    * when `nullable`. */
  def blob(field: String, nullable: Boolean = false): Array[Byte] = {
    val len = int(field)
    if (len == -1 && nullable) null else bytes(field, len)
  }

  def magic(expected: Int): Unit = {
    val m = int("magic")
    check(m == expected, "magic", f"0x$m%08x, expected 0x$expected%08x")
  }

  /** Builds the sketch from decoded header fields, so its constructor's
    * checks run on wire input; their failures name this format. */
  def construct[T](make: => T): T =
    try make catch { case e: IllegalArgumentException => fail("header", e.getMessage) }

  /** Reads a [[WireWriter.cells]] section over cells `0 until n`.
    * `sized` first gets an upper bound on the entries to come (already
    * checked against the bytes left); `put` then gets each nonzero
    * `(index, value)` in ascending index order. */
  def cells(field: String, n: Int, width: Int, signed: Boolean)(sized: Int => Unit)(
      put: (Int, Long) => Unit): Unit =
    byte(field) match {
      case 1 =>
        val nnz = count(field, varint(field), 2)
        check(nnz <= n, field, s"$nnz entries over $n cells")
        sized(nnz)
        var prev = -1L
        var e = 0
        while (e < nnz) {
          val gap = varint(field)
          if (gap < 0 || gap >= n - prev - 1) fail(field, s"cell index past $n")
          val i = prev + 1 + gap
          val v = varint(field)
          val c = if (signed) WireWriter.unzigzag(v) else v
          if (c != 0L) put(i.toInt, c)
          prev = i
          e += 1
        }
      case 0 =>
        count(field, n, if (width == 8) 8 else 1)
        sized(n)
        var i = 0
        while (i < n) {
          val c = if (width == 8) long(field)
            else { val v = varint(field); if (signed) WireWriter.unzigzag(v) else v }
          if (c != 0L) put(i, c)
          i += 1
        }
      case m => fail(field, s"bad section mode $m")
    }

  def finish(): Unit = check(remaining == 0, "end", s"$remaining trailing bytes")
}

object WireReader {
  /** A reader positioned after `magic`. */
  def apply(bytes: Array[Byte], format: String, magic: Int): WireReader = {
    val r = new WireReader(bytes, format)
    r.magic(magic)
    r
  }

  /** Exactly `n` blobs written back to back by [[WireWriter.blobs]]. */
  def blobs(bytes: Array[Byte], format: String, n: Int): Array[Array[Byte]] = {
    val r = new WireReader(bytes, format)
    val out = Array.fill(n)(r.blob("blob"))
    r.finish()
    out
  }
}
