package graft.functions

import java.io.{ByteArrayOutputStream, EOFException, IOException}
import java.util.zip.{CRC32, DataFormatException, Deflater, GZIPOutputStream, Inflater, ZipException}

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}

import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/**
 * Gzip codec used by the trace pipeline.
 *
 * The reference engine decompresses each row's gzipped BLOB with an 8 KiB
 * buffered loop (reference: util/GzipUtil.java:19-31) and decodes UTF-8
 * (util/GzipUtil.java:33-35); compression for ingest lives in
 * config/DataInitializer.java:81-92. Spark has no built-in gzip scalar
 * function, so these are custom Catalyst expressions with real codegen
 * (a static-method call keeps them inside whole-stage codegen — no
 * CodegenFallback, no interpreted row boundary in the hot path).
 *
 * Decompression is a per-row kernel with no per-row setup: it parses the
 * gzip member header itself (RFC 1952), inflates the raw deflate data with
 * one `Inflater(nowrap = true)` per thread, `reset()` on entry, into a
 * per-thread output buffer, checks the trailer, and returns an exact-length
 * copy. A `GZIPInputStream` per row would instead pay for a new native
 * inflater (and its Cleaner registration), a read buffer and a growing
 * output stream on every row. Every check `GZIPInputStream` makes is kept:
 * magic and method, FEXTRA/FNAME/FCOMMENT/FHCRC, trailer CRC-32 and ISIZE,
 * truncated input fails, concatenated members are decoded and trailing
 * garbage after a member is ignored (with the same tail-length rule).
 *
 * Static JVM methods so generated code can call them directly.
 */
object GzipCodec extends Serializable {
  private final val BufferSize = 8192

  /** Size of the per-thread output buffer between rows: it doubles while a
    * row inflates past it and is put back to this size after that row, so
    * one oversized payload does not pin its memory to the thread. */
  private[functions] final val RetainedBufferSize = 8192
  // the largest array the JVM reliably allocates
  private final val MaxArraySize = Int.MaxValue - 8

  private final val FHCRC = 2
  private final val FEXTRA = 4
  private final val FNAME = 8
  private final val FCOMMENT = 16
  private final val HeaderSize = 10
  private final val TrailerSize = 8

  private final class InflateState {
    val inflater = new Inflater(true)
    val crc = new CRC32
    var out = new Array[Byte](RetainedBufferSize)
    val probe = new Array[Byte](1)
  }

  // one per task thread; never shared, so no locking
  private val state = ThreadLocal.withInitial[InflateState](() => new InflateState)

  /** Capacity of this thread's output buffer as kept between rows. */
  private[functions] def retainedBufferCapacity: Int = state.get.out.length

  def compress(plain: Array[Byte]): Array[Byte] = {
    val bos = new ByteArrayOutputStream(plain.length.max(64))
    val gz = new GZIPOutputStream(bos, BufferSize)
    try gz.write(plain)
    finally gz.close()
    bos.toByteArray
  }

  /** Throws an IOException on corrupt input — the reference's
    * fail-the-export policy (service/ParquetConversionService.java:109-112).
    *
    * `maxBytes` bounds the INFLATED size: gzip ratios reach ~1000×, so at
    * corpus scale one hostile (or merely pathological) high-ratio payload
    * would otherwise balloon into an executor-killing allocation. The
    * reference never guards (util/GzipUtil.java:19-31 — it only ever
    * inflates its own trusted writes); an engine ingesting 100 TB of
    * third-party bytes must. The bound is enforced as the output grows
    * (ISIZE is never trusted for an allocation). Strict mode throws (this
    * method); lenient maps oversized, like corrupt, to null. */
  def decompress(gzipped: Array[Byte], maxBytes: Long): Array[Byte] = {
    val st = state.get
    val inf = st.inflater
    val budget = math.max(maxBytes, 0L)
    var buf = st.out
    try {
      var len = 0
      var member = readHeader(gzipped, 0, st.crc)
      var more = true
      while (more) {
        inf.reset()
        inf.setInput(gzipped, member, gzipped.length - member)
        val memberStart = len
        while (!inf.finished()) {
          val limit = math.min(buf.length.toLong, budget).toInt
          if (len < limit) len += inflate(inf, buf, len, limit - len)
          else if (len >= budget) {
            // full at exactly the budget: over it only if more output follows
            if (inflate(inf, st.probe, 0, 1) > 0) throw new IOException(
              s"gzip output exceeds maxBytes=$maxBytes (input ${gzipped.length} bytes)")
          } else if (buf.length < MaxArraySize) {
            buf = java.util.Arrays.copyOf(buf,
              math.min(math.min(buf.length * 2L, budget), MaxArraySize.toLong).toInt)
          } else throw new IOException(
            s"gzip output exceeds the largest array (input ${gzipped.length} bytes)")
        }
        val trailer = gzipped.length - inf.getRemaining
        if (trailer + TrailerSize > gzipped.length)
          throw new EOFException("Unexpected end of GZIP trailer")
        st.crc.reset()
        st.crc.update(buf, memberStart, len - memberStart)
        if (uint32(gzipped, trailer) != st.crc.getValue ||
            uint32(gzipped, trailer + 4) != (inf.getBytesWritten & 0xffffffffL))
          throw new ZipException("Corrupt GZIP trailer")
        // GZIPInputStream's rule: a tail longer than 18 bytes is read as a
        // further member if its header parses; anything else is ignored
        val tail = trailer + TrailerSize
        more = false
        if (gzipped.length - tail > 18) {
          try { member = readHeader(gzipped, tail, st.crc); more = true }
          catch { case _: IOException => }
        }
      }
      java.util.Arrays.copyOf(buf, len)
    } finally {
      st.out = if (buf.length > RetainedBufferSize) new Array[Byte](RetainedBufferSize) else buf
    }
  }

  /** Parses the gzip member header at `start` and returns the offset of its
    * deflate data. */
  private def readHeader(b: Array[Byte], start: Int, crc: CRC32): Int = {
    def need(end: Int): Unit =
      if (end > b.length) throw new EOFException("Unexpected end of GZIP header")
    def skipZeroTerminated(from: Int): Int = {
      var p = from
      while (p < b.length && b(p) != 0) p += 1
      need(p + 1)
      p + 1
    }
    need(start + 2)
    if (uint16(b, start) != 0x8b1f) throw new ZipException("Not in GZIP format")
    need(start + 3)
    if ((b(start + 2) & 0xff) != Deflater.DEFLATED)
      throw new ZipException("Unsupported compression method")
    need(start + HeaderSize)
    val flg = b(start + 3) & 0xff
    var p = start + HeaderSize
    if ((flg & FEXTRA) != 0) {
      need(p + 2)
      p += 2 + uint16(b, p)
      need(p)
    }
    if ((flg & FNAME) != 0) p = skipZeroTerminated(p)
    if ((flg & FCOMMENT) != 0) p = skipZeroTerminated(p)
    if ((flg & FHCRC) != 0) {
      need(p + 2)
      crc.reset()
      crc.update(b, start, p - start)
      if (uint16(b, p) != (crc.getValue & 0xffff).toInt)
        throw new ZipException("Corrupt GZIP header")
      p += 2
    }
    p
  }

  /** One inflate call; zero output with the input used up means the
    * deflate data is truncated. */
  private def inflate(inf: Inflater, out: Array[Byte], off: Int, n: Int): Int = {
    val got =
      try inf.inflate(out, off, n)
      catch { case e: DataFormatException => throw new ZipException(e.getMessage) }
    if (got == 0 && !inf.finished()) {
      if (inf.needsInput()) throw new EOFException("Unexpected end of ZLIB input stream")
      if (inf.needsDictionary()) throw new ZipException("gzip member needs a preset dictionary")
    }
    got
  }

  private def uint16(b: Array[Byte], i: Int): Int = (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)

  private def uint32(b: Array[Byte], i: Int): Long =
    (uint16(b, i) | (uint16(b, i + 2).toLong << 16)) & 0xffffffffL

  def decompress(gzipped: Array[Byte]): Array[Byte] =
    decompress(gzipped, Long.MaxValue)

  /** Lenient variant: corrupt or over-budget input → null (engine-level
    * option the reference lacks; useful for dirty data at scale). */
  def decompressOrNull(gzipped: Array[Byte], maxBytes: Long): Array[Byte] =
    try decompress(gzipped, maxBytes)
    catch { case _: java.io.IOException | _: RuntimeException => null }

  def decompressOrNull(gzipped: Array[Byte]): Array[Byte] =
    decompressOrNull(gzipped, Long.MaxValue)

  def decompressToString(gzipped: Array[Byte], maxBytes: Long): UTF8String =
    UTF8String.fromBytes(decompress(gzipped, maxBytes))

  def decompressToString(gzipped: Array[Byte]): UTF8String =
    decompressToString(gzipped, Long.MaxValue)

  def decompressToStringOrNull(gzipped: Array[Byte], maxBytes: Long): UTF8String = {
    val b = decompressOrNull(gzipped, maxBytes)
    if (b == null) null else UTF8String.fromBytes(b)
  }

  def decompressToStringOrNull(gzipped: Array[Byte]): UTF8String =
    decompressToStringOrNull(gzipped, Long.MaxValue)

  def compressString(s: UTF8String): Array[Byte] = compress(s.getBytes)
}

/** Base for the unary byte-codec expressions: null-safe, codegen via a
  * static call into [[GzipCodec]]. Declares input types so the analyzer
  * casts or rejects mismatched arguments (SQL-registered functions would
  * otherwise reach the kernels with arbitrary child types). */
abstract class GzipUnaryExpression extends UnaryExpression with ImplicitCastInputTypes {
  override def nullIntolerant: Boolean = true
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.CatalystBridge.AbstractType] = Seq(BinaryType)
  /** fully-qualified static method on GzipCodec the codegen calls */
  protected def staticMethod: String
  /** true when `staticMethod` maps corrupt input to null (failOnError=false) */
  protected def lenient: Boolean = false
  /** extra literal arguments appended to the static call (e.g. maxBytes) */
  protected def extraArgs: String = ""

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    if (!lenient) {
      defineCodeGen(ctx, ev, c => s"graft.functions.GzipCodec.$staticMethod($c$extraArgs)")
    } else {
      // defineCodeGen never re-checks ev.isNull after the call, so a
      // null-on-corrupt result would flow through whole-stage codegen as a
      // non-null null (NPE in the consumer). The lenient variants must set
      // isNull from the returned value explicitly.
      nullSafeCodeGen(ctx, ev, c =>
        s"""
           |${ev.value} = graft.functions.GzipCodec.$staticMethod($c$extraArgs);
           |${ev.isNull} = ${ev.value} == null;
         """.stripMargin)
    }
}

/** gzip-decompress: binary → binary. failOnError=true mirrors the
  * reference's abort-on-corrupt-row semantics; `maxBytes` bounds the
  * inflated size (strict → throw, lenient → null, like corrupt input). */
case class GzipDecompress(
    child: Expression,
    failOnError: Boolean = true,
    maxBytes: Long = Long.MaxValue)
    extends GzipUnaryExpression {
  override def dataType: DataType = BinaryType
  override protected def staticMethod: String =
    if (failOnError) "decompress" else "decompressOrNull"
  override protected def lenient: Boolean = !failOnError
  override protected def extraArgs: String = s", ${maxBytes}L"
  override def nullable: Boolean = child.nullable || !failOnError
  override protected def nullSafeEval(v: Any): Any = {
    val r =
      if (failOnError) GzipCodec.decompress(v.asInstanceOf[Array[Byte]], maxBytes)
      else GzipCodec.decompressOrNull(v.asInstanceOf[Array[Byte]], maxBytes)
    r
  }
  override def prettyName: String = "gunzip"
  override protected def withNewChildInternal(c: Expression): GzipDecompress = copy(child = c)
}

/** gzip-decompress + UTF-8 decode in one expression: binary → string.
  * Fuses the reference's T1+T2 (GzipUtil.gzipDecompString). */
case class GzipDecompressToString(
    child: Expression,
    failOnError: Boolean = true,
    maxBytes: Long = Long.MaxValue)
    extends GzipUnaryExpression {
  override def dataType: DataType = StringType
  override protected def staticMethod: String =
    if (failOnError) "decompressToString" else "decompressToStringOrNull"
  override protected def lenient: Boolean = !failOnError
  override protected def extraArgs: String = s", ${maxBytes}L"
  override def nullable: Boolean = child.nullable || !failOnError
  override protected def nullSafeEval(v: Any): Any =
    if (failOnError) GzipCodec.decompressToString(v.asInstanceOf[Array[Byte]], maxBytes)
    else GzipCodec.decompressToStringOrNull(v.asInstanceOf[Array[Byte]], maxBytes)
  override def prettyName: String = "gunzip_string"
  override protected def withNewChildInternal(c: Expression): GzipDecompressToString = copy(child = c)
}

/** gzip-compress: binary → binary (ingest path, reference W1). */
case class GzipCompress(child: Expression) extends GzipUnaryExpression {
  override def dataType: DataType = BinaryType
  override protected def staticMethod: String = "compress"
  override protected def nullSafeEval(v: Any): Any =
    GzipCodec.compress(v.asInstanceOf[Array[Byte]])
  override def prettyName: String = "gzip"
  override protected def withNewChildInternal(c: Expression): GzipCompress = copy(child = c)
}

/** gzip-compress a string column's UTF-8 bytes: string → binary. */
case class GzipCompressString(child: Expression) extends GzipUnaryExpression {
  override def inputTypes: Seq[org.apache.spark.sql.graftbridge.CatalystBridge.AbstractType] = Seq(StringType)
  override def dataType: DataType = BinaryType
  override protected def staticMethod: String = "compressString"
  override protected def nullSafeEval(v: Any): Any =
    GzipCodec.compressString(v.asInstanceOf[UTF8String])
  override def prettyName: String = "gzip_string"
  override protected def withNewChildInternal(c: Expression): GzipCompressString = copy(child = c)
}
