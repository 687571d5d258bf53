package graft.pipeline

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-15 pins:
  *  - the PNG codec (VERDICT r14 missing #3): chunk CRCs, zlib framing,
  *    stored-block inflation, filter reconstruction — byte-simulated on
  *    non-ASCII input, multi-block branch driven directly, every
  *    corruption class failing loudly, ancillary chunks tolerated.
  *  - the GK-exactness premise behind qp109 (VERDICT r14 #5):
  *    percentile_approx at accuracy ≫ n returns the order statistic at
  *    rank ⌈n·q⌉ — the convention the oracle replays.
  *  - append-over-a-LOADED-index (VERDICT r14 missing #2): the corpus
  *    side stays warehouse bucket reads across both append steps; only
  *    deltas + batch working sets are cached.
  *  - deployment-contract validation on load (VERDICT r14 #6) and the
  *    TGA hostile-header / footer items (ADVICE r14 #1/#4).
  */
class Round15PipelineSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark: SparkSession = {
    val s = SparkSession.builder()
      .appName("round15-pipeline-spec").master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
  private val dir = "/root/testdata/sf0.001"

  override def afterAll(): Unit = spark.stop()

  private def docs: DataFrame = graft.Tables.load(spark, dir, "documents")

  private val M = 1000000007L
  private def fold(bytes: Iterator[Int]): Long =
    bytes.foldLeft(0L)((a, b) => (a * 131L + b) % M)

  // ---- PNG codec ----------------------------------------------------------

  test("png codec: non-ASCII roundtrip matches the byte-level simulation") {
    import spark.implicits._
    val text = "héllo wörld ünïcode ありがとう 测试 éàü"
    val raw = text.getBytes("UTF-8")
    assert(raw.length > text.length, "fixture must actually be non-ASCII")
    val df = Seq((9L, text)).toDF("doc_id", "text")
    val (w, h) = (8 + raw.length % 32, 8 + (raw.length * 13) % 32)
    val meta = Multimodal.pngPlaneMeta(
      Multimodal.encodePng(df, "doc_id", "text")).collect()(0)
    val expect = fold((0 until w * h * 3).iterator.map(i => raw(i % raw.length) & 0xFF))
    assert(meta.width == w && meta.height == h && meta.plane_hash == expect,
      s"PNG non-ASCII mismatch: got (${meta.width},${meta.height},${meta.plane_hash})" +
        s" want ($w,$h,$expect)")
    // closed-form container size: 63 + raw scanline stream + 5/block
    val rawLen = h * (1 + 3 * w)
    val blocks = 1 + (rawLen - 1) / 65535
    assert(meta.n_bytes == 63L + rawLen + 5L * blocks,
      s"PNG size drifted: ${meta.n_bytes} vs ${63 + rawLen + 5 * blocks}")
  }

  test("png codec: container facts — signature, CRC'd chunks, Sub rows") {
    import spark.implicits._
    val df = Seq((4L, "some words repeated some words")).toDF("doc_id", "text")
    val payload = Multimodal.encodePng(df, "doc_id", "text").collect()(0).data
    assert((payload(0) & 0xFF) == 0x89 && payload(1) == 'P'.toByte &&
      payload(2) == 'N'.toByte && payload(3) == 'G'.toByte)
    // IHDR chunk directly after the signature, length 13
    assert(java.nio.ByteBuffer.wrap(payload, 8, 4).getInt == 13)
    assert(new String(payload, 12, 4, "US-ASCII") == "IHDR")
    // every chunk CRC verifies under an independent walk
    var pos = 8
    var types = List.empty[String]
    while (pos < payload.length) {
      val len = java.nio.ByteBuffer.wrap(payload, pos, 4).getInt
      val t = new String(payload, pos + 4, 4, "US-ASCII")
      val crc = new java.util.zip.CRC32
      crc.update(payload, pos + 4, 4 + len)
      assert(crc.getValue.toInt ==
        java.nio.ByteBuffer.wrap(payload, pos + 8 + len, 4).getInt,
        s"chunk $t CRC invalid in encoder output")
      types ::= t
      pos += 12 + len
    }
    assert(types.reverse == List("IHDR", "IDAT", "IEND"))
    // odd rows carry the Sub filter, even rows None (both paths always hot)
    val ihdrW = java.nio.ByteBuffer.wrap(payload, 16, 4).getInt
    val idatOff = 8 + 25 + 8 // sig + IHDR chunk + IDAT len/type
    val zraw = payload.slice(idatOff + 2 + 5, payload.length - 12 - 4 - 4)
    val stride = 1 + 3 * ihdrW
    assert((zraw(0) & 0xFF) == 0 && (zraw(stride) & 0xFF) == 1,
      "expected None on row 0 and Sub on row 1")
  }

  test("png codec: >65535-byte raw stream splits into stored blocks and decodes") {
    import spark.implicits._
    val w = 300; val h = 80 // raw = 80·901 = 72 080 > 65 535 → 2 blocks
    val logical = Array.tabulate(w * h * 3)(i => ((i * 31 + 7) % 251).toByte)
    val payload = Multimodal.writePng(w, h, logical)
    val rawLen = h * (1 + 3 * w)
    assert(payload.length == 63 + rawLen + 5 * 2, "two stored blocks expected")
    val meta = Multimodal.pngPlaneMeta(
      Seq(Multimodal.MediaItem(6L, "png", payload)).toDS()).collect()(0)
    assert(meta.width == w && meta.height == h)
    assert(meta.plane_hash == fold(logical.iterator.map(_ & 0xFF)))
  }

  /** Re-CRC the chunk at `chunkOff` after a payload mutation. */
  private def recrc(p: Array[Byte], chunkOff: Int): Unit = {
    val len = java.nio.ByteBuffer.wrap(p, chunkOff, 4).getInt
    val crc = new java.util.zip.CRC32
    crc.update(p, chunkOff + 4, 4 + len)
    java.nio.ByteBuffer.wrap(p, chunkOff + 8 + len, 4).putInt(crc.getValue.toInt)
  }

  test("png codec: every corruption class fails loudly") {
    import spark.implicits._
    val df = Seq((7L, "corruption fixture text with several words")).toDF("doc_id", "text")
    val good = Multimodal.encodePng(df, "doc_id", "text").collect()(0).data
    def decode(d: Array[Byte]): Unit = Multimodal.parsePngPlane(d, 7L)
    decode(good) // sanity: the uncorrupted payload parses
    val idatChunk = 8 + 25 // offset of the IDAT chunk (len field)

    // (a) chunk data flip without re-CRC → CRC mismatch
    val a = good.clone(); a(idatChunk + 8 + 10) = (a(idatChunk + 8 + 10) ^ 0x5A).toByte
    assert(intercept[IllegalArgumentException](decode(a)).getMessage.contains("CRC"))

    // (b) Adler trailer flip (chunk re-CRC'd so the zlib check is reached)
    val idatLen = java.nio.ByteBuffer.wrap(good, idatChunk, 4).getInt
    val b = good.clone()
    val adlerOff = idatChunk + 8 + idatLen - 1
    b(adlerOff) = (b(adlerOff) ^ 0x01).toByte; recrc(b, idatChunk)
    assert(intercept[IllegalArgumentException](decode(b)).getMessage.contains("Adler"))

    // (c) stored-block NLEN flip → LEN/NLEN mismatch
    val c = good.clone()
    val nlenOff = idatChunk + 8 + 2 + 3 // zlib hdr, block hdr, LEN
    c(nlenOff) = (c(nlenOff) ^ 0x01).toByte; recrc(c, idatChunk)
    assert(intercept[IllegalArgumentException](decode(c)).getMessage.contains("NLEN"))

    // (d) reserved block type → purposeful error (BFINAL=1, BTYPE=11 →
    // header byte 0x07); a stored block REINTERPRETED as dynamic
    // Huffman (0x05) must also fail loudly, wherever its garbage
    // tables break down
    val d = good.clone()
    val bhdrOff = idatChunk + 8 + 2
    d(bhdrOff) = 0x07.toByte; recrc(d, idatChunk)
    assert(intercept[IllegalArgumentException](decode(d)).getMessage
      .contains("reserved"))
    val d2 = good.clone()
    d2(bhdrOff) = 0x05.toByte; recrc(d2, idatChunk)
    val eDyn = intercept[IllegalArgumentException](decode(d2))
    assert(eDyn.getMessage != null && eDyn.getMessage.nonEmpty)

    // (e) hostile IHDR geometry → implausible-for-payload, BEFORE allocation
    val e = good.clone()
    java.nio.ByteBuffer.wrap(e, 16, 8).putInt(60000).putInt(60000); recrc(e, 8)
    assert(intercept[IllegalArgumentException](decode(e)).getMessage
      .contains("implausible"))

    // (f) unknown CRITICAL chunk rejected; ancillary tolerated
    def withChunk(tpe: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      out.write(good, 0, good.length - 12) // all but IEND
      val data = "x".getBytes("US-ASCII")
      out.write(java.nio.ByteBuffer.allocate(4).putInt(data.length).array())
      out.write(tpe.getBytes("US-ASCII")); out.write(data)
      val crc = new java.util.zip.CRC32
      crc.update(tpe.getBytes("US-ASCII")); crc.update(data)
      out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
      out.write(good, good.length - 12, 12) // IEND
      out.toByteArray
    }
    assert(intercept[IllegalArgumentException](decode(withChunk("XABC")))
      .getMessage.contains("critical"))
    decode(withChunk("tEXt")) // ancillary: skipped, no throw
  }

  // ---- PNG fixed-Huffman (real entropy coding) ------------------------------

  test("png huffman: non-ASCII roundtrip + exact bit accounting") {
    import spark.implicits._
    val text = "ünïcode ありがとう 测试 — high bytes everywhere"
    val raw = text.getBytes("UTF-8")
    assert(raw.exists(b => (b & 0xFF) >= 144),
      "fixture must exercise the 9-bit codeword path")
    val df = Seq((13L, text)).toDF("doc_id", "text")
    val (w, h) = (8 + raw.length % 32, 8 + (raw.length * 17) % 32)
    val meta = Multimodal.pngPlaneMeta(
      Multimodal.encodePngHuffman(df, "doc_id", "text")).collect()(0)
    val expect = fold((0 until w * h * 3).iterator.map(i => raw(i % raw.length) & 0xFF))
    assert(meta.width == w && meta.height == h && meta.plane_hash == expect)
    // independent bit accounting: 3 header + 7 EOB + 8 per filter byte
    // + 8/9 per filtered scanline byte (the oracle's formula, in JVM)
    def plane(i: Int): Int = raw(i % raw.length) & 0xFF
    val stride = 3 * w
    var bits = 3L + 7 + 8L * h
    (0 until h * stride).foreach { i =>
      val r = i / stride; val x = i % stride
      val v =
        if (r % 2 == 1 && x >= 3) ((plane(i) - plane(i - 3)) % 256 + 256) % 256
        else plane(i)
      bits += (if (v >= 144) 9 else 8)
    }
    assert(meta.n_bytes == 63L + (bits + 7) / 8,
      s"entropy-coded size drifted: ${meta.n_bytes} vs ${63 + (bits + 7) / 8}")
  }

  test("png huffman: encoder output inflates under java.util.zip (reference impl)") {
    import spark.implicits._
    val df = Seq((14L, "cross validation against the platform inflater")).toDF("doc_id", "text")
    val payload = Multimodal.encodePngHuffman(df, "doc_id", "text").collect()(0).data
    val idatLen = java.nio.ByteBuffer.wrap(payload, 33, 4).getInt
    val zlib = payload.slice(41, 41 + idatLen)
    val inf = new java.util.zip.Inflater()
    inf.setInput(zlib)
    val out = new Array[Byte](1 << 20)
    val n = inf.inflate(out)
    assert(inf.finished(), "platform inflater did not reach end of stream")
    // the raw stream the reference implementation sees must equal ours:
    // decode through parsePngPlane and re-filter
    val (w, h, logical) = Multimodal.parsePngPlane(payload, 14L)
    val stride = 3 * w
    assert(n == h * (1 + stride))
    (0 until h).foreach { r =>
      val filt = out(r * (1 + stride)) & 0xFF
      assert(filt == (r % 2), s"row $r filter byte $filt")
      (0 until stride).foreach { x =>
        val recon =
          if (filt == 0) out(r * (1 + stride) + 1 + x)
          else ((out(r * (1 + stride) + 1 + x) +
            (if (x < 3) 0 else logical(r * stride + x - 3))).toByte)
        assert(recon == logical(r * stride + x),
          s"raw stream diverges at row $r pos $x")
      }
    }
  }

  test("png huffman: LZ77 back-references incl. overlapping copies decode") {
    // hand-built fixed-Huffman stream the internal encoder never emits:
    // literal 0x00, literal 0x00, then length-10/distance-1 overlap →
    // twelve zero bytes = three rows of a 1×3 PNG (filter 0 + 3 zero px)
    val bits = new scala.collection.mutable.ArrayBuffer[Int]()
    def putBits(v: Int, n: Int): Unit = (0 until n).foreach(i => bits += ((v >> i) & 1))
    def putCode(c: Int, n: Int): Unit = (n - 1 to 0 by -1).foreach(i => bits += ((c >> i) & 1))
    putBits(1, 1); putBits(1, 2) // BFINAL, BTYPE=01
    putCode(0x30, 8); putCode(0x30, 8) // two literal 0x00
    putCode(264 - 256, 7) // length symbol 264 = 10, no extra bits
    putCode(0, 5) // distance symbol 0 = 1, no extra bits
    putCode(0, 7) // EOB
    val deflate = bits.grouped(8).map(g =>
      g.zipWithIndex.foldLeft(0) { case (a, (b, i)) => a | (b << i) }.toByte).toArray
    val rawStream = new Array[Byte](12)
    val adler = new java.util.zip.Adler32; adler.update(rawStream)
    val zlib = new java.io.ByteArrayOutputStream()
    zlib.write(0x78); zlib.write(0x01); zlib.write(deflate, 0, deflate.length)
    zlib.write(java.nio.ByteBuffer.allocate(4).putInt(adler.getValue.toInt).array())
    val out = new java.io.ByteArrayOutputStream()
    out.write(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
    def chunk(tpe: String, data: Array[Byte]): Unit = {
      out.write(java.nio.ByteBuffer.allocate(4).putInt(data.length).array())
      out.write(tpe.getBytes("US-ASCII")); out.write(data)
      val crc = new java.util.zip.CRC32
      crc.update(tpe.getBytes("US-ASCII")); crc.update(data)
      out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
    ihdr.putInt(1).putInt(3)
    ihdr.put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
    chunk("IHDR", ihdr.array()); chunk("IDAT", zlib.toByteArray)
    chunk("IEND", Array.emptyByteArray)
    val (w, h, logical) = Multimodal.parsePngPlane(out.toByteArray, 99L)
    assert(w == 1 && h == 3 && logical.forall(_ == 0),
      "overlapping back-reference did not reconstruct the zero plane")
  }

  test("png dynamic huffman: decodes platform-zlib output at every level") {
    // the other direction of the Inflater cross-check: java.util.zip
    // COMPRESSES (LZ77 matches + dynamic/fixed/stored blocks per its
    // heuristics), OUR inflater decodes. Levels 1/6/9 + repetitive and
    // non-ASCII planes hit different block-type choices.
    val texts = Seq(
      "ünïcode ありがとう mixed 测试 content",
      "aaaa bbbb aaaa bbbb " * 40, // repetitive → LZ77-heavy dynamic block
      "x")
    for (text <- texts; level <- Seq(1, 6, 9)) {
      val raw = text.getBytes("UTF-8")
      val (w, h) = (8 + raw.length % 32, 8 + (raw.length * 19) % 32)
      val logical = Array.tabulate(w * h * 3)(i => raw(i % raw.length))
      // private filterScanlines is exercised through the public writers;
      // rebuild the scanline stream locally to drive Deflater directly
      val stride = 3 * w
      val scan = new Array[Byte](h * (1 + stride))
      (0 until h).foreach { r =>
        val base = r * (1 + stride)
        if (r % 2 == 1) {
          scan(base) = 1
          (0 until stride).foreach { i =>
            val prev = if (i < 3) 0 else logical(r * stride + i - 3)
            scan(base + 1 + i) = (logical(r * stride + i) - prev).toByte
          }
        } else {
          scan(base) = 0
          System.arraycopy(logical, r * stride, scan, base + 1, stride)
        }
      }
      val d = new java.util.zip.Deflater(level)
      d.setInput(scan); d.finish()
      val zout = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      while (!d.finished()) { val n = d.deflate(buf); zout.write(buf, 0, n) }
      d.end()
      // wrap as a container (same chunk builder as the LZ77 test)
      val out = new java.io.ByteArrayOutputStream()
      out.write(Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte))
      def chunk(tpe: String, data: Array[Byte]): Unit = {
        out.write(java.nio.ByteBuffer.allocate(4).putInt(data.length).array())
        out.write(tpe.getBytes("US-ASCII")); out.write(data)
        val crc = new java.util.zip.CRC32
        crc.update(tpe.getBytes("US-ASCII")); crc.update(data)
        out.write(java.nio.ByteBuffer.allocate(4).putInt(crc.getValue.toInt).array())
      }
      val ihdr = java.nio.ByteBuffer.allocate(13)
      ihdr.putInt(w).putInt(h)
      ihdr.put(8.toByte).put(2.toByte).put(0.toByte).put(0.toByte).put(0.toByte)
      chunk("IHDR", ihdr.array()); chunk("IDAT", zout.toByteArray)
      chunk("IEND", Array.emptyByteArray)
      val (gw, gh, got) = Multimodal.parsePngPlane(out.toByteArray, 50L + level)
      assert(gw == w && gh == h && java.util.Arrays.equals(got, logical),
        s"level-$level zlib output did not decode (text ${text.take(12)}…)")
    }
  }

  test("png dynamic huffman: qp112 end-to-end + corrupted stream fails loudly") {
    import spark.implicits._
    val df = Seq((21L, "dynamic huffman end to end fixture")).toDF("doc_id", "text")
    val payload = Multimodal.encodePngZlib(df, "doc_id", "text").collect()(0).data
    val raw = "dynamic huffman end to end fixture".getBytes("UTF-8")
    val (w, h) = (8 + raw.length % 32, 8 + (raw.length * 19) % 32)
    val meta = Multimodal.pngPlaneMeta(
      Multimodal.encodePngZlib(df, "doc_id", "text")).collect()(0)
    val expect = fold((0 until w * h * 3).iterator.map(i => raw(i % raw.length) & 0xFF))
    assert(meta.width == w && meta.height == h && meta.plane_hash == expect)
    // the real compressor COMPRESSES the repetitive plane (unlike the
    // literal-only fixed-Huffman writer)
    assert(meta.n_bytes < 63 + h * (1 + 3 * w),
      "platform zlib produced no compression on a cycled plane")
    // corrupt one byte mid-deflate-stream (past the zlib header), fix
    // the chunk CRC so the failure comes from the inflate itself
    val bad = payload.clone()
    val idatChunk = 8 + 25
    bad(idatChunk + 8 + 12) = (bad(idatChunk + 8 + 12) ^ 0x55).toByte
    recrc(bad, idatChunk)
    val e = intercept[IllegalArgumentException] {
      Multimodal.parsePngPlane(bad, 21L)
    }
    assert(e.getMessage != null && e.getMessage.nonEmpty)
  }

  // ---- TGA hostile header + footer (ADVICE r14 #1/#4) ----------------------

  test("tga codec: hostile header rejected before the plane allocation") {
    // 18-byte type-10 header claiming 26000×26000 over an empty packet
    // stream: w·h·3 ≈ 2 GB fits Int, so only the payload-plausibility
    // bound stands between this and a per-record OOM
    val d = new Array[Byte](18 + 64)
    d(2) = 10; d(16) = 24
    d(12) = (26000 & 0xFF).toByte; d(13) = ((26000 >> 8) & 0xFF).toByte
    d(14) = (26000 & 0xFF).toByte; d(15) = ((26000 >> 8) & 0xFF).toByte
    val e = intercept[IllegalArgumentException](Multimodal.parseTgaHeader(d, 1L))
    assert(e.getMessage.contains("implausible"))
  }

  test("tga codec: conformant TGA 2.0 footer tolerated, garbage rejected") {
    import spark.implicits._
    val df = Seq((2L, "footer fixture text with words")).toDF("doc_id", "text")
    val base = Multimodal.encodeTga(df, "doc_id", "text").collect()(0).data
    val footer = new Array[Byte](26)
    System.arraycopy("TRUEVISION-XFILE.".getBytes("US-ASCII"), 0, footer, 8, 17)
    val withFooter = base ++ footer
    val meta = Multimodal.tgaPlaneMeta(
      Seq(Multimodal.MediaItem(2L, "tga", withFooter)).toDS()).collect()(0)
    val plain = Multimodal.tgaPlaneMeta(
      Seq(Multimodal.MediaItem(2L, "tga", base)).toDS()).collect()(0)
    assert(meta.plane_hash == plain.plane_hash &&
      meta.n_bytes == plain.n_bytes + 26)
    val garbage = base ++ new Array[Byte](26) // no signature
    val e = intercept[org.apache.spark.SparkException] {
      Multimodal.tgaPlaneMeta(
        Seq(Multimodal.MediaItem(2L, "tga", garbage)).toDS()).collect()
    }
    assert(e.getMessage != null)
  }

  // ---- GK exactness premise (qp109) ----------------------------------------

  test("percentile_approx at accuracy >> n is the rank-ceil(n*q) order statistic") {
    import spark.implicits._
    // synthetic: values 1..n per source make the convention readable
    val rows = for {
      (n, src) <- Seq((25, "a"), (24, "b"), (7, "c"), (10, "d"), (3, "e"), (1, "f"))
      v <- 1 to n
    } yield (src, v.toLong)
    val got = rows.toDF("source", "score").groupBy($"source")
      .agg(percentile_approx($"score", lit(0.25), lit(1000000)).as("thr"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    Seq(("a", 25), ("b", 24), ("c", 7), ("d", 10), ("e", 3), ("f", 1)).foreach {
      case (s, n) =>
        val want = math.max(math.ceil(0.25 * n).toInt, 1)
        assert(got(s) == want.toLong,
          s"source $s (n=$n): GK returned ${got(s)}, rank-ceil is $want")
    }
    // and on the real fixture: per-source GK threshold == exact ceil-rank
    val toks = graft.pipeline.TextOps.tokens(col("text"))
    val scored = docs.select(col("doc_id").as("id"), col("source"),
        size(toks).cast("long").as("t"),
        size(array_distinct(toks)).cast("long").as("u"))
      .filter(col("t") > 0)
      .withColumn("score", floor(col("u") * lit(1000.0d) / col("t")).cast("long"))
    val approx = scored.groupBy($"source")
      .agg(percentile_approx($"score", lit(0.25), lit(1000000)).as("thr"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    scored.collect().map(r => (r.getString(1), r.getLong(4)))
      .groupBy(_._1).foreach { case (s, vs) =>
        val sorted = vs.map(_._2).sorted
        val want = sorted(math.max(math.ceil(0.25 * sorted.length).toInt, 1) - 1)
        assert(approx(s) == want, s"fixture source $s: GK ${approx(s)} != ceil-rank $want")
      }
  }

  // ---- append over a LOADED index (VERDICT r14 missing #2) ------------------

  test("loaded index: appends keep the corpus side on warehouse buckets") {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
    val corpus = docs.filter(col("doc_id") % 8 >= 4)
    def b(k: Int): DataFrame = docs.filter(col("doc_id") % 8 === k)
    val built = Dedup.buildCorpusShingleIndex(corpus, "doc_id", "text",
      shingleN = 3, thresholdNum = 2, thresholdDen = 5)
    Dedup.writeIndexTables(built, "graft_idx_r15spec", buckets = 4)
    built.release(blocking = true)
    graft.queries.Engines.releaseAll(blocking = true)
    val loaded = Dedup.loadCorpusShingleIndex(spark, "graft_idx_r15spec")

    // append over the LOADED index caches ONLY the batch deltas and
    // its verdicts (3 + 1 frames; the ranked + fp working set is
    // released), never anything corpus-shaped
    val before = spark.sparkContext.getPersistentRDDs.size
    val (v1, idx1) = Dedup.classifyAndAppend(loaded, b(0), "doc_id", "text")
    val afterOne = spark.sparkContext.getPersistentRDDs.size
    assert(afterOne - before == 4,
      s"append over loaded index cached ${afterOne - before} frames, want 4 " +
        "(fps/prefix/arrs deltas, verdicts)")

    // the verdicts come back cached: descend into each cache's plan so
    // the pins below see the verdict pipeline, not its cache scan. That
    // plan has run, so its stages are leaves holding their subtrees
    def nodes(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
      case c: InMemoryTableScanExec => c +: nodes(c.relation.cachedPlan)
      case q: QueryStageExec => q +: nodes(q.plan)
      case r: ReusedExchangeExec => r +: nodes(r.child)
      case other => other +: other.children.flatMap(nodes)
    }
    def pinWarehouseCorpus(frame: DataFrame, what: String): Unit = {
      val all = nodes(frame.queryExecution.executedPlan)
      // no cache scan may carry the corpus filter (doc_id % 8 >= 4)
      all.collect { case c: InMemoryTableScanExec => c }.foreach(c =>
        assert(!c.toString.contains("% 8) >= 4"),
          s"$what reads a corpus-side session cache: $c"))
      val fileScans = all.collect { case f: FileSourceScanExec => f }
      val (warehouse, live) = fileScans.partition(
        _.relation.location.rootPaths.exists(_.toString.contains("graft_idx_r15spec")))
      live.foreach(f => assert(!f.toString.contains("% 8) >= 4"),
        s"$what re-scans the live corpus: $f"))
      assert(warehouse.nonEmpty, s"$what reads no warehouse bucket at all")
    }
    pinWarehouseCorpus(v1, "first-append verdicts")
    // second append: the grown index is loaded-tables ∪ cached deltas —
    // the corpus side must STILL come from the warehouse
    val (v2, idx2) = Dedup.classifyAndAppend(idx1, b(1), "doc_id", "text")
    pinWarehouseCorpus(v2, "second-append verdicts")

    // verdict parity with a fresh one-shot build over the same corpora
    val got1 = v1.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want1 = Dedup.incrementalNearDup(corpus, b(0), "doc_id", "text",
        shingleN = 3, thresholdNum = 2, thresholdDen = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got1 == want1, "first-append verdicts diverge from one-shot")
    val got2 = v2.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val want2 = Dedup.incrementalNearDup(corpus.unionAll(b(0)), b(1), "doc_id",
        "text", shingleN = 3, thresholdNum = 2, thresholdDen = 5)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got2 == want2, "second-append verdicts diverge from one-shot")
    idx2.release(blocking = true)
    graft.queries.Engines.releaseAll(blocking = true)
  }

  // ---- deployment-contract validation on load (VERDICT r14 #6) --------------

  test("index load: missing table and lost bucketing fail purposefully") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta gamma delta epsilon zeta"),
      (2L, "one two three four five six")).toDF("doc_id", "text")
    val idx = Dedup.buildCorpusShingleIndex(corpus, "doc_id", "text",
      shingleN = 3, thresholdNum = 2, thresholdDen = 5)
    Dedup.writeIndexTables(idx, "graft_idx_valspec", buckets = 2)
    idx.release(blocking = true)
    // happy path loads
    Dedup.loadCorpusShingleIndex(spark, "graft_idx_valspec")
    // (a) half-finished write: a dropped table → purposeful 'incomplete'
    spark.sql("DROP TABLE graft_idx_valspec_arrs")
    val eMissing = intercept[IllegalStateException] {
      Dedup.loadCorpusShingleIndex(spark, "graft_idx_valspec")
    }
    assert(eMissing.getMessage.contains("incomplete") &&
      eMissing.getMessage.contains("graft_idx_valspec_arrs"))
    // (b) out-of-band unbucketed overwrite → purposeful 'not bucketed'
    Dedup.writeIndexTables(idx, "graft_idx_valspec", buckets = 2)
    val prefix = spark.table("graft_idx_valspec_prefix").collect()
    spark.sql("DROP TABLE graft_idx_valspec_prefix")
    val rows = prefix.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    rows.toSeq.toDF("id", "h", "__sz").write.mode("overwrite")
      .format("parquet").saveAsTable("graft_idx_valspec_prefix")
    val eBucket = intercept[IllegalStateException] {
      Dedup.loadCorpusShingleIndex(spark, "graft_idx_valspec")
    }
    assert(eBucket.getMessage.contains("not bucketed"))
    graft.queries.Engines.releaseAll(blocking = true)
  }

  test("index write: qualified prefix rejected (stale-location path guess)") {
    import spark.implicits._
    val corpus = Seq((1L, "alpha beta gamma delta")).toDF("doc_id", "text")
    val idx = Dedup.buildCorpusShingleIndex(corpus, "doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.writeIndexTables(idx, "somedb.graft_idx")
    }
    assert(e.getMessage.contains("unqualified"))
    idx.release(blocking = true)
    graft.queries.Engines.releaseAll(blocking = true)
  }
}
