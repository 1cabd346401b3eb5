package graft.functions

import java.io.{ByteArrayInputStream, IOException}
import java.util.concurrent.{Callable, Executors, TimeUnit}
import java.util.zip.{CRC32, Deflater, GZIPInputStream}

import org.apache.spark.sql.functions.col
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import graft.SparkSpec

class GzipSpec extends SparkSpec {
  import spark.implicits._

  /** The decoder the kernel must agree with. */
  private def viaJdk(gz: Array[Byte]): Array[Byte] = {
    val in = new GZIPInputStream(new ByteArrayInputStream(gz))
    try in.readAllBytes() finally in.close()
  }

  /** Seeded bytes that deflate to a few times smaller than they are. */
  private def payload(n: Int, seed: Long): Array[Byte] = {
    val alphabet = "abcdefgh{}\": ,0123456789"
    val r = new scala.util.Random(seed)
    Array.fill(n)(alphabet(r.nextInt(alphabet.length)).toByte)
  }

  private def rawDeflate(plain: Array[Byte]): Array[Byte] = {
    val d = new Deflater(Deflater.DEFAULT_COMPRESSION, true)
    try {
      d.setInput(plain)
      d.finish()
      val out = new java.io.ByteArrayOutputStream
      val buf = new Array[Byte](4096)
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  private def le(v: Long, n: Int): Array[Byte] = Array.tabulate(n)(i => (v >>> (8 * i)).toByte)

  /** A gzip member with the optional header fields named by `flags`
    * (FHCRC=2, FEXTRA=4, FNAME=8, FCOMMENT=16). */
  private def member(plain: Array[Byte], flags: Int, badHcrc: Boolean = false): Array[Byte] = {
    var h = Array[Byte](0x1f, 0x8b.toByte, 8, flags.toByte, 1, 2, 3, 4, 0, 3)
    if ((flags & 4) != 0) h = h ++ le(5, 2) ++ "xtra!".getBytes("UTF-8")
    if ((flags & 8) != 0) h = h ++ "trace.json".getBytes("UTF-8") :+ 0.toByte
    if ((flags & 16) != 0) h = h ++ "a comment".getBytes("UTF-8") :+ 0.toByte
    if ((flags & 2) != 0) {
      val c = new CRC32
      c.update(h)
      h = h ++ le((c.getValue & 0xffff) ^ (if (badHcrc) 1 else 0), 2)
    }
    val c = new CRC32
    c.update(plain)
    h ++ rawDeflate(plain) ++ le(c.getValue, 4) ++ le(plain.length.toLong, 4)
  }

  private def assertRejected(gz: Array[Byte], what: String): Unit = {
    intercept[IOException](viaJdk(gz))
    withClue(what) {
      intercept[IOException](GzipCodec.decompress(gz))
      assert(GzipCodec.decompressOrNull(gz) == null)
      assert(GzipCodec.decompressToStringOrNull(gz) == null)
    }
  }

  test("decoder conformance: same bytes as GZIPInputStream on every member shape") {
    val sizes = Seq(0, 1, 8 * 1024 - 1, 8 * 1024, 8 * 1024 + 1, 1 << 20)
    sizes.foreach { n =>
      val plain = payload(n, n.toLong)
      val gz = GzipCodec.compress(plain)
      assert(viaJdk(gz).sameElements(plain), n)
      assert(GzipCodec.decompress(gz).sameElements(plain), n)
    }
    val plain = payload(3000, 7L)
    // every combination of the optional header fields
    (0 until 32 by 2).foreach { flags =>
      val gz = member(plain, flags)
      assert(viaJdk(gz).sameElements(plain), flags)
      assert(GzipCodec.decompress(gz).sameElements(plain), flags)
    }
    val second = payload(500, 8L)
    val shapes = Seq(
      "two members" -> (GzipCodec.compress(plain) ++ member(second, 30)),
      "empty second member" -> (GzipCodec.compress(plain) ++ GzipCodec.compress(Array.emptyByteArray)),
      "short trailing garbage" -> (GzipCodec.compress(plain) ++ Array.fill[Byte](7)(0x5a)),
      "long trailing garbage" -> (GzipCodec.compress(plain) ++ payload(100, 9L)),
      "garbage after two members" ->
        (GzipCodec.compress(plain) ++ GzipCodec.compress(second) ++ payload(40, 10L)))
    shapes.foreach { case (what, gz) =>
      val expected = viaJdk(gz)
      assert(GzipCodec.decompress(gz).sameElements(expected), what)
    }
    assert(GzipCodec.decompress(shapes.head._2).sameElements(plain ++ second))
  }

  test("decoder conformance: corrupt members throw (strict) or map to null (lenient)") {
    val plain = payload(5000, 11L)
    val gz = GzipCodec.compress(plain)
    def patched(i: Int, f: Byte => Int): Array[Byte] = {
      val b = gz.clone()
      b(i) = f(b(i)).toByte
      b
    }
    assertRejected(Array.emptyByteArray, "empty input")
    assertRejected(patched(0, _ => 0x1e), "bad magic")
    assertRejected(patched(2, _ => 7), "method != 8")
    assertRejected(gz.take(gz.length / 2), "truncated deflate data")
    assertRejected(gz.take(5), "truncated header")
    assertRejected(gz.dropRight(3), "truncated trailer")
    assertRejected(gz.dropRight(8), "missing trailer")
    assertRejected(patched(gz.length - 8, b => b ^ 1), "wrong CRC-32")
    assertRejected(patched(gz.length - 4, b => b ^ 1), "wrong ISIZE")
    assertRejected(member(plain, 2, badHcrc = true), "corrupt FHCRC")
    assertRejected(member(plain, 4).take(14), "FEXTRA past the end")
    assertRejected(member(plain, 8).take(15), "unterminated FNAME")
    assertRejected(patched(12, b => b ^ 0x40), "corrupt deflate data")
    assertRejected(gz ++ GzipCodec.compress(plain).dropRight(4), "truncated second member")
  }

  test("per-thread state: a failed row does not poison the next; threads never share output") {
    val good = payload(20000, 12L)
    val goodGz = GzipCodec.compress(good)
    val corrupt = goodGz.take(goodGz.length / 2)
    assert(GzipCodec.decompressOrNull(corrupt) == null)
    assert(GzipCodec.decompress(goodGz).sameElements(good))
    intercept[IOException](GzipCodec.decompress(goodGz, 100L))
    assert(GzipCodec.decompress(goodGz).sameElements(good))

    val pool = Executors.newFixedThreadPool(8)
    try {
      val jobs = (0 until 8).map { t =>
        pool.submit(new Callable[Boolean] {
          def call(): Boolean = {
            val plains = (0 until 4).map(i => payload(100 + 7000 * i + t, t * 10L + i))
            val gzs = plains.map(GzipCodec.compress)
            (0 until 200).forall { k =>
              val i = k % plains.size
              GzipCodec.decompress(gzs(i)).sameElements(plains(i))
            }
          }
        })
      }
      assert(jobs.forall(_.get(60, TimeUnit.SECONDS)))
    } finally pool.shutdownNow()
  }

  test("per-thread output buffer shrinks back to its cap after an oversized row") {
    val big = new Array[Byte](8 * 1024 * 1024)
    big(12345) = 1
    assert(GzipCodec.decompress(GzipCodec.compress(big)).sameElements(big))
    assert(GzipCodec.retainedBufferCapacity == GzipCodec.RetainedBufferSize)
    // also after a row that failed partway through growing
    intercept[IOException](GzipCodec.decompress(GzipCodec.compress(big), 1L << 20))
    assert(GzipCodec.retainedBufferCapacity == GzipCodec.RetainedBufferSize)
  }

  test("maxBytes boundary: exactly maxBytes inflates, one byte more is over budget") {
    // 8 KiB fills the retained buffer exactly; 100 KiB grows it first
    Seq(GzipCodec.RetainedBufferSize, 1, 100 * 1024).foreach { n =>
      val plain = payload(n, n.toLong)
      val gz = GzipCodec.compress(plain)
      assert(GzipCodec.decompress(gz, n.toLong).sameElements(plain), n)
      assert(GzipCodec.decompressToString(gz, n.toLong).numBytes() == n, n)
      intercept[IOException](GzipCodec.decompress(gz, n - 1L))
      assert(GzipCodec.decompressOrNull(gz, n - 1L) == null, n)
      assert(GzipCodec.decompressToStringOrNull(gz, n - 1L) == null, n)
    }
    val empty = GzipCodec.compress(Array.emptyByteArray)
    assert(GzipCodec.decompress(empty, 0L).isEmpty)
    // the bound counts every member's output together
    val two = GzipCodec.compress(payload(600, 1L)) ++ GzipCodec.compress(payload(600, 2L))
    assert(GzipCodec.decompress(two, 1200L).length == 1200)
    assert(GzipCodec.decompressOrNull(two, 1199L) == null)
  }

  test("codec round-trip: decompress(compress(s)) == s (property, 100 samples)") {
    val gen = Gen.stringOf(Gen.frequency(8 -> Gen.asciiPrintableChar, 2 -> Gen.alphaNumChar))
    (0 until 100).foreach { i =>
      val s = gen.pureApply(Gen.Parameters.default, Seed(i.toLong))
      val bytes = s.getBytes("UTF-8")
      assert(GzipCodec.decompress(GzipCodec.compress(bytes)).sameElements(bytes))
    }
  }

  test("codec handles unicode and large payloads") {
    val payloads = Seq("", "héllo wörld ✓ 센서", "x" * 1000000,
      """{"value": 250, "status": "WARN", "temp": 45.5}""")
    payloads.foreach { s =>
      val rt = new String(GzipCodec.decompress(GzipCodec.compress(s.getBytes("UTF-8"))), "UTF-8")
      assert(rt == s)
    }
  }

  test("column round-trip through whole-stage codegen") {
    val df = Seq("a", "bb", "{\"k\": 1}", "é✓").toDF("s")
      .select(col("s"), gunzip_string(gzip_string(col("s"))).as("rt"))
    assert(df.filter(col("s") =!= col("rt")).count() == 0)
  }

  test("null input → null output (null-intolerant expressions)") {
    val df = Seq((1, Option.empty[String]), (2, Some("x"))).toDF("i", "s")
      .select(gunzip_string(gzip_string(col("s"))).as("rt"))
    val rows = df.collect().map(r => Option(r.getString(0)))
    assert(rows.count(_.isEmpty) == 1 && rows.flatten.toSeq == Seq("x"))
  }

  test("corrupt gzip: failOnError=true aborts (reference policy), lenient mode yields null") {
    val corrupt = Seq(Array[Byte](1, 2, 3, 4)).toDF("b")
    intercept[Exception] { // ZipException locally, SparkException from tasks
      corrupt.select(gunzip(col("b"))).collect()
    }
    val lenient = corrupt.select(gunzip(col("b"), failOnError = false)).collect()
    assert(lenient.head.isNullAt(0))
  }

  test("maxBytes bounds the inflated size: strict throws, lenient nulls, under-limit unaffected") {
    // ~1000:1 ratio payload: 8 MiB of zeros gzips to ~8 KiB — the shape of
    // a decompression bomb a 100 TB third-party corpus will contain
    val bomb = GzipCodec.compress(new Array[Byte](8 * 1024 * 1024))
    assert(bomb.length < 64 * 1024)
    // kernel level
    intercept[java.io.IOException] { GzipCodec.decompress(bomb, 1024L * 1024) }
    assert(GzipCodec.decompressOrNull(bomb, 1024L * 1024) == null)
    assert(GzipCodec.decompress(bomb, 16L * 1024 * 1024).length == 8 * 1024 * 1024)
    // column level, through a real scan so codegen carries the limit
    val dir = java.nio.file.Files.createTempDirectory("graft-gz-bomb").toString
    val small = GzipCodec.compress("ok".getBytes("UTF-8"))
    Seq(bomb, small).toDF("gz").write.mode("overwrite").parquet(dir)
    val scanned = spark.read.parquet(dir)
    intercept[Exception] { // SparkException from the failing task
      scanned.select(gunzip(col("gz"), maxBytes = 1024L * 1024)).collect()
    }
    val lenient = scanned
      .select(gunzip_string(col("gz"), failOnError = false, maxBytes = 1024L * 1024).as("rt"))
      .collect().map(r => Option(r.getString(0)))
    assert(lenient.toSet == Set(Some("ok"), None))
  }

  test("lenient gunzip inside WholeStageCodegen: corrupt → null, not NPE") {
    // LocalRelation inputs are folded by ConvertToLocalRelation and never
    // exercise codegen — round 1's lenient-mode codegen bug (isNull never
    // set from the null result) was invisible to the local-only test. A
    // parquet round-trip forces a real scan + generated projection.
    val dir = java.nio.file.Files.createTempDirectory("graft-gz-lenient").toString
    val good = GzipCodec.compress("ok".getBytes("UTF-8"))
    Seq(good, Array[Byte](1, 2, 3, 4)).toDF("gz").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir)
      .select(gunzip_string(col("gz"), failOnError = false).as("rt"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project"), plan)
    val rows = df.collect().map(r => Option(r.getString(0)))
    assert(rows.toSet == Set(Some("ok"), None))

    val binDf = spark.read.parquet(dir)
      .select(gunzip(col("gz"), failOnError = false).as("rt"))
    val binRows = binDf.collect().map(r => Option(r.get(0)))
    assert(binRows.count(_.isEmpty) == 1)
  }

  test("gunzip stays inside WholeStageCodegen (no fallback in the hot path)") {
    import spark.implicits._
    // pre-compress eagerly so EliminateGzipRoundTrip has nothing to fold —
    // this test is about the DEcompress expression's codegen
    val gzipped = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("text")).as[String].collect()
      .map(t => graft.functions.GzipCodec.compress(t.getBytes("UTF-8")))
    // parquet round-trip: a real scan, so ConvertToLocalRelation can't
    // eagerly evaluate the projection away
    val dir = java.nio.file.Files.createTempDirectory("graft-gz").toString
    gzipped.toSeq.toDF("gz").write.mode("overwrite").parquet(dir)
    val df = spark.read.parquet(dir).select(gunzip_string(col("gz")).as("rt"))
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefix marks operators fused into a WholeStageCodegen stage
    assert(plan.contains("*(1) Project [gunzip_string("), plan)
    assert(df.count() == 500)
  }
}
