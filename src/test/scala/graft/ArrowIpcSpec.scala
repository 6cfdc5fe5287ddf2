package graft

import graft.ArrowKit._
import graft.sources.ArrowIpc
import graft.sources.ArrowIpc._
import org.apache.arrow.vector.types.pojo.{ArrowType, Field}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** The in-tree Arrow layer around arrow-java: the Spark face over
  * ArrowFileWriter/ArrowStreamWriter output (scalar matrix, nulls,
  * multi-batch, dictionary, lz4/zstd bodies), the Spark-row writer read
  * back by arrow-java's readers (nested types, both codecs), the ranged
  * footer read, and the hostile-input contract. Cross-ecosystem pyarrow
  * fixtures are pinned in ArrowFixtureSpec. */
class ArrowIpcSpec extends AnyFunSuite {

  private val Utf8 = java.nio.charset.StandardCharsets.UTF_8

  private def alloc() = new org.apache.arrow.memory.RootAllocator()

  // ------------------------------------------------------- Arrow Java writer -> our reader

  test("scalar matrix: Arrow Java file writer -> our reader (values, nulls, multi-batch)") {
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema => JSchema}
    import org.apache.arrow.vector.types.{TimeUnit => JTimeUnit}
    val a = alloc()
    try {
      def f(n: String, t: ArrowType) = Field.nullable(n, t)
      val schema = new JSchema(java.util.Arrays.asList(
        f("i8", new ArrowType.Int(8, true)),
        f("i16", new ArrowType.Int(16, true)),
        f("i32", new ArrowType.Int(32, true)),
        f("i64", new ArrowType.Int(64, true)),
        f("u8", new ArrowType.Int(8, false)),
        f("u16", new ArrowType.Int(16, false)),
        f("u32", new ArrowType.Int(32, false)),
        f("f4", new ArrowType.FloatingPoint(org.apache.arrow.vector.types.FloatingPointPrecision.SINGLE)),
        f("f8", new ArrowType.FloatingPoint(org.apache.arrow.vector.types.FloatingPointPrecision.DOUBLE)),
        f("b", ArrowType.Bool.INSTANCE),
        f("s", ArrowType.Utf8.INSTANCE),
        f("bin", ArrowType.Binary.INSTANCE),
        f("fsb", new ArrowType.FixedSizeBinary(5)),
        f("dec", new ArrowType.Decimal(12, 3, 128)),
        f("d32", new ArrowType.Date(org.apache.arrow.vector.types.DateUnit.DAY)),
        f("d64", new ArrowType.Date(org.apache.arrow.vector.types.DateUnit.MILLISECOND)),
        f("ts", new ArrowType.Timestamp(JTimeUnit.MICROSECOND, "UTC")),
        f("t64", new ArrowType.Time(JTimeUnit.MICROSECOND, 64)),
        f("dur", new ArrowType.Duration(JTimeUnit.MILLISECOND))))
      val root = VectorSchemaRoot.create(schema, a)
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val w = new org.apache.arrow.vector.ipc.ArrowFileWriter(root, null, java.nio.channels.Channels.newChannel(bos))
        w.start()
        val batchSizes = Seq(6, 0, 5) // includes an empty batch mid-file
        var base = 0
        batchSizes.foreach { m =>
          root.allocateNew()
          for (r <- 0 until m) {
            val i = base + r
            if (i % 4 != 3) {
              root.getVector("i8").asInstanceOf[TinyIntVector].setSafe(r, i * 13 - 40)
              root.getVector("i16").asInstanceOf[SmallIntVector].setSafe(r, i * 1001 - 4000)
              root.getVector("i32").asInstanceOf[IntVector].setSafe(r, i * 100000 - 350000)
              root.getVector("i64").asInstanceOf[BigIntVector].setSafe(r, i * 123456789L - 400000000L)
              root.getVector("u8").asInstanceOf[UInt1Vector].setSafe(r, (i * 29) % 256)
              root.getVector("u16").asInstanceOf[UInt2Vector].setSafe(r, ((i * 7001) % 65536).toChar)
              root.getVector("u32").asInstanceOf[UInt4Vector].setSafe(r, ((i.toLong * 900000007L) % 4294967296L).toInt)
              root.getVector("f4").asInstanceOf[Float4Vector].setSafe(r, i * 1.5f - 3f)
              root.getVector("f8").asInstanceOf[Float8Vector].setSafe(r, i * 2.25 - 9.0)
              root.getVector("b").asInstanceOf[BitVector].setSafe(r, i % 2)
              root.getVector("s").asInstanceOf[VarCharVector].setSafe(r, s"s${i * i}é".getBytes(Utf8))
              root.getVector("bin").asInstanceOf[VarBinaryVector].setSafe(r, Array.tabulate(i % 4)(j => (i * 7 + j).toByte))
              root.getVector("fsb").asInstanceOf[FixedSizeBinaryVector].setSafe(r, Array.fill(5)(i.toByte))
              root.getVector("dec").asInstanceOf[DecimalVector].setSafe(r, new java.math.BigDecimal(java.math.BigInteger.valueOf((i - 4) * 1234567L), 3))
              root.getVector("d32").asInstanceOf[DateDayVector].setSafe(r, 19000 + i)
              root.getVector("d64").asInstanceOf[DateMilliVector].setSafe(r, (19000L + i) * 86400000L + i)
              root.getVector("ts").asInstanceOf[TimeStampMicroTZVector].setSafe(r, 1700000000000000L + i)
              root.getVector("t64").asInstanceOf[TimeMicroVector].setSafe(r, i * 1000001L)
              root.getVector("dur").asInstanceOf[DurationVector].setSafe(r, i * 777L)
            }
          }
          root.setRowCount(m)
          w.writeBatch()
          base += m
        }
        w.end(); w.close()
        val bytes = bos.toByteArray

        val (as, batches) = ArrowIpc.readFileBytes(bytes)
        assert(names(as) == Seq("i8", "i16", "i32", "i64", "u8", "u16", "u32", "f4", "f8",
          "b", "s", "bin", "fsb", "dec", "d32", "d64", "ts", "t64", "dur"))
        assert(as.getFields.get(4).getType == new ArrowType.Int(8, false))
        assert(as.getFields.get(16).getType == new ArrowType.Timestamp(JTimeUnit.MICROSECOND, "UTC"))
        assert(batches.map(_.length) == Seq(6, 0, 5))
        val col = names(as).zipWithIndex.toMap
        var i = 0
        flat(batches).foreach { row =>
          def g(n: String): Any = row.get(col(n))
          if (i % 4 == 3) assert(row.toSeq.forall(_ == null), s"row $i should be all-null")
          else {
            assert(g("i8") == (i * 13 - 40).toByte)
            assert(g("i16") == (i * 1001 - 4000).toShort)
            assert(g("i32") == i * 100000 - 350000)
            assert(g("i64") == i * 123456789L - 400000000L)
            assert(g("u8") == ((i * 29) % 256).toShort)
            assert(g("u16") == (i * 7001) % 65536)
            assert(g("u32") == (i.toLong * 900000007L) % 4294967296L)
            assert(g("f4") == i * 1.5f - 3f)
            assert(g("f8") == i * 2.25 - 9.0)
            assert(g("b") == (i % 2 == 1))
            assert(g("s") == s"s${i * i}é")
            assert(java.util.Arrays.equals(g("bin").asInstanceOf[Array[Byte]], Array.tabulate(i % 4)(j => (i * 7 + j).toByte)))
            assert(java.util.Arrays.equals(g("fsb").asInstanceOf[Array[Byte]], Array.fill(5)(i.toByte)))
            assert(g("dec") == new java.math.BigDecimal(java.math.BigInteger.valueOf((i - 4) * 1234567L), 3))
            assert(g("d32") == java.time.LocalDate.ofEpochDay(19000L + i))
            assert(g("d64") == java.time.LocalDate.ofEpochDay(19000L + i)) // ms past midnight floor to the day
            assert(g("ts") == java.time.Instant.ofEpochSecond(1700000000L, i * 1000L))
            assert(g("t64") == i * 1000001L)
            assert(g("dur") == i * 777L)
          }
          i += 1
        }
        assert(i == 11)
      } finally root.close()
    } finally a.close()
  }

  test("uint64: Arrow Java writer -> our reader carries values losslessly as decimal(20,0)") {
    import org.apache.arrow.vector._
    val a = alloc()
    try {
      val schema = new org.apache.arrow.vector.types.pojo.Schema(java.util.Arrays.asList(
        org.apache.arrow.vector.types.pojo.Field.nullable("u", new org.apache.arrow.vector.types.pojo.ArrowType.Int(64, false))))
      val root = VectorSchemaRoot.create(schema, a)
      try {
        root.allocateNew()
        val uv = root.getVector("u").asInstanceOf[UInt8Vector]
        uv.setSafe(0, 7L)
        uv.setSafe(1, Long.MaxValue)
        uv.setSafe(2, -1L) // raw bits: 2^64 - 1
        uv.setSafe(3, Long.MinValue) // 2^63
        root.setRowCount(5) // row 4 null
        val bos = new java.io.ByteArrayOutputStream()
        val w = new org.apache.arrow.vector.ipc.ArrowFileWriter(root, null, java.nio.channels.Channels.newChannel(bos))
        w.start(); w.writeBatch(); w.end(); w.close()
        val (as, batches) = ArrowIpc.readFileBytes(bos.toByteArray)
        assert(ArrowIpc.sparkType(as.getFields.get(0)) == DecimalType(20, 0))
        val c = batches.head.map(_.get(0))
        assert(c(0) == java.math.BigDecimal.valueOf(7L))
        assert(c(1) == new java.math.BigDecimal(Long.MaxValue))
        assert(c(2) == new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(64).subtract(java.math.BigInteger.ONE)))
        assert(c(3) == new java.math.BigDecimal(java.math.BigInteger.ONE.shiftLeft(63)))
        assert(c(4) == null)
      } finally root.close()
    } finally a.close()
  }

  test("dictionary-encoded utf8: Arrow Java writer -> our reader resolves indices") {
    import org.apache.arrow.vector._
    import org.apache.arrow.vector.dictionary.{Dictionary, DictionaryEncoder, DictionaryProvider}
    import org.apache.arrow.vector.types.pojo.{ArrowType, DictionaryEncoding}
    val a = alloc()
    try {
      val dictV = new VarCharVector("dict", a)
      dictV.allocateNew()
      val words = Seq("alpha", "beta", "gamma", "δelta")
      words.zipWithIndex.foreach { case (s, i) => dictV.setSafe(i, s.getBytes(Utf8)) }
      dictV.setValueCount(words.length)
      val enc = new DictionaryEncoding(42L, false, new ArrowType.Int(16, true))
      val dict = new Dictionary(dictV, enc)
      val raw = new VarCharVector("w", a)
      raw.allocateNew()
      val n = 13
      for (i <- 0 until n) if (i % 5 != 4) raw.setSafe(i, words(i % words.length).getBytes(Utf8))
      raw.setValueCount(n)
      val encoded = DictionaryEncoder.encode(raw, dict).asInstanceOf[FieldVector]
      val root = new VectorSchemaRoot(java.util.Arrays.asList(encoded.getField), java.util.Arrays.asList(encoded))
      root.setRowCount(n)
      val provider = new DictionaryProvider.MapDictionaryProvider(dict)
      val bos = new java.io.ByteArrayOutputStream()
      val w = new org.apache.arrow.vector.ipc.ArrowFileWriter(root, provider, java.nio.channels.Channels.newChannel(bos))
      w.start(); w.writeBatch(); w.end(); w.close()
      val (as, batches) = ArrowIpc.readFileBytes(bos.toByteArray)
      val f = as.getFields.get(0)
      assert(f.getDictionary.getId == 42L && f.getDictionary.getIndexType == new ArrowType.Int(16, true))
      assert(f.getType == ArrowType.Utf8.INSTANCE)
      assert(batches.head.length == n)
      for (i <- 0 until n) {
        val v = batches.head(i).get(0)
        if (i % 5 == 4) assert(v == null) else assert(v == words(i % words.length))
      }
      raw.close(); encoded.close(); dictV.close(); root.close()
    } finally a.close()
  }

  test("body compression: Arrow Java lz4/zstd writers -> our reader (in-tree codecs)") {
    import org.apache.arrow.vector._
    import org.apache.arrow.compression.CommonsCompressionFactory
    import org.apache.arrow.vector.compression.CompressionUtil
    import org.apache.arrow.vector.ipc.message.IpcOption
    for (codec <- Seq(CompressionUtil.CodecType.LZ4_FRAME, CompressionUtil.CodecType.ZSTD)) {
      val a = alloc()
      try {
        val schema = new org.apache.arrow.vector.types.pojo.Schema(java.util.Arrays.asList(
          org.apache.arrow.vector.types.pojo.Field.nullable("x", new org.apache.arrow.vector.types.pojo.ArrowType.Int(64, true)),
          org.apache.arrow.vector.types.pojo.Field.nullable("s", org.apache.arrow.vector.types.pojo.ArrowType.Utf8.INSTANCE)))
        val root = VectorSchemaRoot.create(schema, a)
        try {
          val n = 4000
          root.allocateNew()
          val xv = root.getVector("x").asInstanceOf[BigIntVector]
          val sv = root.getVector("s").asInstanceOf[VarCharVector]
          for (i <- 0 until n) { xv.setSafe(i, i % 97L); sv.setSafe(i, s"w${i % 83}".getBytes(Utf8)) }
          root.setRowCount(n)
          val bos = new java.io.ByteArrayOutputStream()
          val w = new org.apache.arrow.vector.ipc.ArrowFileWriter(
            root, null, java.nio.channels.Channels.newChannel(bos),
            new java.util.HashMap[String, String](), IpcOption.DEFAULT,
            CommonsCompressionFactory.INSTANCE, codec)
          w.start(); w.writeBatch(); w.end(); w.close()
          val (_, batches) = ArrowIpc.readFileBytes(bos.toByteArray)
          assert(batches.head.length == n)
          for (i <- 0 until n) {
            assert(batches.head(i).get(0) == i % 97L)
            assert(batches.head(i).get(1) == s"w${i % 83}")
          }
        } finally root.close()
      } finally a.close()
    }
  }

  test("stream format: Arrow Java stream writer -> our stream reader") {
    import org.apache.arrow.vector._
    val a = alloc()
    try {
      val schema = new org.apache.arrow.vector.types.pojo.Schema(java.util.Arrays.asList(
        org.apache.arrow.vector.types.pojo.Field.nullable("x", new org.apache.arrow.vector.types.pojo.ArrowType.Int(32, true))))
      val root = VectorSchemaRoot.create(schema, a)
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val w = new org.apache.arrow.vector.ipc.ArrowStreamWriter(root, null, java.nio.channels.Channels.newChannel(bos))
        w.start()
        for (b <- 0 until 3) {
          root.allocateNew()
          val xv = root.getVector("x").asInstanceOf[IntVector]
          for (i <- 0 until 4) xv.setSafe(i, b * 100 + i)
          root.setRowCount(4)
          w.writeBatch()
        }
        w.end(); w.close()
        val (as, batches) = ArrowIpc.readStreamBytes(bos.toByteArray)
        assert(names(as) == Seq("x"))
        assert(batches.map(_.length) == Seq(4, 4, 4))
        assert(batches(2)(3).get(0) == 203)
      } finally root.close()
    } finally a.close()
  }

  // ------------------------------------------------------- our writer -> Arrow Java reader

  private val laneStruct = StructType(Seq(
    StructField("id", LongType),
    StructField("name", StringType),
    StructField("score", DoubleType),
    StructField("ok", BooleanType),
    StructField("raw", BinaryType),
    StructField("emb", ArrayType(FloatType, containsNull = false)),
    StructField("hist", ArrayType(LongType)),
    StructField("pos", StructType(Seq(StructField("x", IntegerType), StructField("y", StringType))))))
  private def laneSchema = ArrowIpc.arrowSchema(laneStruct)

  private def laneRows(n: Int): Seq[Row] = (0 until n).map { i =>
    Row(
      if (i % 7 == 6) null else i * 37L - 100L,
      if (i % 5 == 4) null else s"n${i}·${i % 11}",
      if (i % 9 == 8) null else i * 0.625 - 2.0,
      if (i % 4 == 2) null else i % 3 == 0,
      if (i % 6 == 5) null else Array.tabulate((i % 5))(j => (i + j).toByte),
      if (i % 8 == 7) null else Seq(i * 1f, i * 2f, i * 3f),
      if (i % 10 == 9) null else Seq.tabulate(i % 4)(j => i * 10L + j),
      if (i % 11 == 10) null else Row(i, s"y$i"))
  }

  test("our file writer (none/lz4/zstd) -> Arrow Java file reader, values equal") {
    import org.apache.arrow.vector.ipc.ArrowFileReader
    import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
    import org.apache.arrow.compression.CommonsCompressionFactory
    val n = 300
    for (codec <- Seq("none", "lz4", "zstd")) {
      val bytes = ArrowIpc.writeBytes(laneSchema, Seq(laneRows(n)), codec)
      // our own reader first (round-trip)
      val (_, back) = ArrowIpc.readFileBytes(bytes)
      assert(back.head.length == n)
      val a = alloc()
      try {
        val r = new ArrowFileReader(
          new ByteArrayReadableSeekableByteChannel(bytes), a, CommonsCompressionFactory.INSTANCE)
        try {
          assert(r.loadNextBatch(), s"codec=$codec: Arrow Java rejects our file")
          val root = r.getVectorSchemaRoot
          assert(root.getRowCount == n)
          val rows = laneRows(n)
          for (i <- 0 until n) {
            def jv(name: String): AnyRef = root.getVector(name).getObject(i)
            val row = rows(i)
            if (row.isNullAt(0)) assert(jv("id") == null) else assert(jv("id") == row.get(0))
            if (row.isNullAt(1)) assert(jv("name") == null) else assert(jv("name").toString == row.get(1))
            if (row.isNullAt(2)) assert(jv("score") == null) else assert(jv("score") == row.get(2))
            if (row.isNullAt(3)) assert(jv("ok") == null) else assert(jv("ok") == row.get(3))
            if (row.isNullAt(4)) assert(jv("raw") == null)
            else assert(java.util.Arrays.equals(jv("raw").asInstanceOf[Array[Byte]], row.getAs[Array[Byte]](4)))
            if (row.isNullAt(5)) assert(jv("emb") == null)
            else {
              val l = jv("emb").asInstanceOf[java.util.List[_]]
              assert(l.size == 3 && (0 until 3).forall(j => l.get(j) == row.getSeq[Float](5)(j)))
            }
            if (row.isNullAt(6)) assert(jv("hist") == null)
            else {
              val exp = row.getSeq[Long](6)
              val l = jv("hist").asInstanceOf[java.util.List[_]]
              assert(l.size == exp.length && exp.indices.forall(j => l.get(j) == exp(j)))
            }
            if (row.isNullAt(7)) assert(jv("pos") == null)
            else {
              val m = jv("pos").asInstanceOf[java.util.Map[String, AnyRef]]
              assert(m.get("x") == row.getStruct(7).get(0))
              assert(m.get("y").toString == row.getStruct(7).get(1))
            }
          }
        } finally r.close()
      } finally a.close()
    }
  }

  test("our stream writer -> Arrow Java stream reader; our reader round-trips the same bytes") {
    import org.apache.arrow.vector.ipc.ArrowStreamReader
    val n = 64
    val schema = ArrowIpc.arrowSchema(StructType(Seq(StructField("x", LongType))))
    def batch(b: Int): Seq[Row] = Seq.tabulate(n)(i => Row(b * 1000L + i))
    val bytes = ArrowIpc.writeBytes(schema, Seq(batch(0), batch(1)), file = false)
    val a = alloc()
    try {
      val r = new ArrowStreamReader(new java.io.ByteArrayInputStream(bytes), a)
      try {
        var b = 0
        while (r.loadNextBatch()) {
          val root = r.getVectorSchemaRoot
          assert(root.getRowCount == n)
          assert(root.getVector("x").getObject(2) == b * 1000L + 2)
          b += 1
        }
        assert(b == 2)
      } finally r.close()
    } finally a.close()
    val (_, back) = ArrowIpc.readStreamBytes(bytes)
    assert(back.map(_.length) == Seq(n, n))
    assert(back(1)(63).get(0) == 1063L)
  }

  // ------------------------------------------------------------ scale shape

  test("ranged-read audit: footer parse touches only the head magic and the file tail") {
    val n = 2000
    val bytes = ArrowIpc.writeBytes(laneSchema, Seq(laneRows(n)))
    val len = bytes.length.toLong
    val reads = scala.collection.mutable.ArrayBuffer.empty[(Long, Int)]
    // a recording channel: every read's position and length
    val ch = new org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel(bytes) {
      override def read(dst: java.nio.ByteBuffer): Int = {
        val at = position()
        val got = super.read(dst)
        reads += ((at, got))
        got
      }
    }
    val f = new ArrowIpc.IpcFile(ch).footer
    assert(f.getRecordBatches.size > 0)
    val footerLen = {
      val tail = java.util.Arrays.copyOfRange(bytes, bytes.length - 10, bytes.length - 6)
      (tail(0) & 0xff) | ((tail(1) & 0xff) << 8) | ((tail(2) & 0xff) << 16) | ((tail(3) & 0xff) << 24)
    }
    val tailStart = len - 10 - footerLen
    reads.foreach { case (off, sz) =>
      val headRead = off == 0 && sz <= 8
      val tailRead = off >= tailStart
      assert(headRead || tailRead, s"driver read ($off,$sz) outside head-magic/tail region (tail starts $tailStart)")
    }
    // and the data region is strictly larger than everything the driver read
    val driverBytes = reads.map(_._2.toLong).sum
    assert(driverBytes < len / 4, s"driver read $driverBytes of $len bytes")
  }

  test("scan: DataFrame over Arrow-Java-written files, batch tasks ranged") {
    val dir = java.nio.file.Files.createTempDirectory("arrowscan")
    try {
      val ids = Array.tabulate(1500)(i => i.toLong)
      val bytes = ArrowIpc.buildWithArrowJava(ids)
      val p1 = dir.resolve("a.arrow"); val p2 = dir.resolve("b.arrow")
      java.nio.file.Files.write(p1, bytes)
      java.nio.file.Files.write(p2, bytes)
      val df = TestSpark.spark.read.format("arrowipc").load(p1.toString, p2.toString)
      assert(df.schema.fieldNames.toSeq == Seq("id", "tag", "val", "flag"))
      assert(df.rdd.getNumPartitions == 6) // one ranged task per 512-row batch
      assert(df.count() == 3000)
      val got = df.selectExpr("sum(id)", "sum(length(tag))", "sum(val)").collect().head
      assert(got.getLong(0) == 2L * ids.sum)
      assert(got.getLong(1) == 2L * ids.map(i => 1 + (i % 101).toString.length).sum)
      assert(got.getDouble(2) == 2.0 * ids.map(_ % 7).sum)
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); dir.toFile.delete()
    }
  }

  // --------------------------------------------------------------- hostility

  test("malformed input raises ArrowError, never raw index errors") {
    val n = 40
    val good = ArrowIpc.writeBytes(laneSchema, Seq(laneRows(n)), "zstd")
    def mustFail(b: Array[Byte], what: String): Unit = {
      val r = try { ArrowIpc.readFileBytes(b); None }
      catch {
        case _: ArrowIpc.ArrowError => Some(())
        case e: Throwable => fail(s"$what: escaped as ${e.getClass.getName}: ${e.getMessage}")
      }
      assert(r.isDefined, s"$what: decoded silently")
    }
    mustFail(Array.emptyByteArray, "empty")
    mustFail(good.take(20), "truncated head")
    mustFail(good.dropRight(3), "truncated tail")
    mustFail("NOTARROWFILEATALL!".getBytes(Utf8) ++ good.drop(18), "bad magic")
    val hugeFooter = good.clone()
    hugeFooter(good.length - 10) = 0x7f.toByte // footer length absurd
    hugeFooter(good.length - 9) = 0x7f.toByte
    hugeFooter(good.length - 8) = 0x7f.toByte
    hugeFooter(good.length - 7) = 0x7f.toByte
    mustFail(hugeFooter, "oversized footer length")
    // stream: garbage after valid schema message
    val stream = ArrowIpc.writeBytes(laneSchema, Seq(laneRows(4)), file = false)
    val cut = stream.dropRight(9)
    val r = try { ArrowIpc.readStreamBytes(cut); true }
    catch { case _: ArrowIpc.ArrowError => true; case e: Throwable => fail(s"stream cut escaped: $e") }
    assert(r)
  }

  test("mutation fuzz: decode equal bytes-or-ArrowError only (no CRC in the format, so values may drift)") {
    val n = 96
    val base = ArrowIpc.writeBytes(laneSchema, Seq(laneRows(n)), "lz4")
    val rnd = new scala.util.Random(20260816L)
    var mutated = 0
    for (_ <- 0 until 600) {
      val b = base.clone()
      val k = 1 + rnd.nextInt(3)
      for (_ <- 0 until k) {
        val p = rnd.nextInt(b.length)
        b(p) = (b(p) ^ (1 + rnd.nextInt(255))).toByte
      }
      mutated += 1
      try { ArrowIpc.readFileBytes(b); () }
      catch {
        case _: ArrowIpc.ArrowError => ()
        case e: Throwable => fail(s"mutation escaped as ${e.getClass.getName}: ${e.getMessage}")
      }
      // truncations too
      val t = java.util.Arrays.copyOfRange(base, 0, rnd.nextInt(base.length))
      try { ArrowIpc.readFileBytes(t); () }
      catch {
        case _: ArrowIpc.ArrowError => ()
        case e: Throwable => fail(s"truncation escaped as ${e.getClass.getName}: ${e.getMessage}")
      }
    }
    assert(mutated == 600)
  }

  private def causes(t: Throwable): Seq[Throwable] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).toSeq

  /** `good` with every little-endian i64 equal to `from` set to `to`
    * (the batch length and the field-node lengths live in the batch
    * metadata as i64s), and how many were patched. */
  private def patchI64(good: Array[Byte], from: Long, to: Long): (Array[Byte], Int) = {
    val out = good.clone()
    var patched = 0
    for (p <- 0 until out.length - 8) {
      if ((0 until 8).forall(j => out(p + j) == ((from >> (8 * j)) & 0xff).toByte)) {
        for (j <- 0 until 8) out(p + j) = ((to >> (8 * j)) & 0xff).toByte
        patched += 1
      }
    }
    (out, patched)
  }

  /** Decoding `bytes` must raise ArrowError and nothing else. */
  private def refused(bytes: Array[Byte], what: String, read: Array[Byte] => Any = ArrowIpc.readFileBytes): ArrowIpc.ArrowError =
    try { read(bytes); fail(s"$what decoded silently") }
    catch {
      case e: ArrowIpc.ArrowError => e
      case e: org.scalatest.exceptions.TestFailedException => throw e
      case e: Throwable => fail(s"$what escaped as ${e.getClass.getName}: ${e.getMessage}")
    }

  private def heapUsed(): Long = Runtime.getRuntime.totalMemory() - Runtime.getRuntime.freeMemory()

  test("allocation bombs: declared rows without backing bytes refuse before allocating") {
    // A few bytes of body cannot legitimately carry 100M rows. Craft by
    // patching a valid 4-row file's batch length and node length.
    val schema = ArrowIpc.arrowSchema(StructType(Seq(StructField("x", LongType))))
    val good = ArrowIpc.writeBytes(schema, Seq(Seq(Row(1L), Row(2L), Row(null), Row(4L))))
    val before = heapUsed()
    // past the unbacked-row floor: refused on the declared count alone
    val (bomb, patched) = patchI64(good, 4, 100000000L)
    assert(patched >= 2, s"expected to patch rows+node length, got $patched")
    val e = refused(bomb, "100M-row bomb")
    assert(e.getMessage.contains("100000000 rows declared"), s"expected the row check to refuse, got $e")
    // under the floor: arrow-java sizes the column for 60M rows, which
    // the read's allocator limit refuses
    val under = refused(patchI64(good, 4, 60000000L)._1, "60M-row bomb")
    assert(causes(under).exists(_.isInstanceOf[org.apache.arrow.memory.OutOfMemoryException]),
      s"expected the allocator limit to refuse, got $under")
    assert(heapUsed() - before < (512L << 20), s"bombs allocated ${(heapUsed() - before) >> 20} MB before failing")
  }

  test("allocation bombs: null, run-end-encoded and zero-column batches cannot declare unbacked rows") {
    import org.apache.arrow.vector.VectorSchemaRoot
    import org.apache.arrow.vector.ipc.ArrowFileWriter
    // columns that no buffer backs: arrow-java allocates nothing for
    // them, so only the declared-row check stands between a patched
    // length and a billion materialized rows. Three rows, as no buffer
    // offset or length in these files is 3.
    def arrowJava(s: org.apache.arrow.vector.types.pojo.Schema): Array[Byte] = {
      val a = alloc()
      try {
        val root = VectorSchemaRoot.create(s, a)
        try {
          val bos = new java.io.ByteArrayOutputStream()
          val w = new ArrowFileWriter(root, null, java.nio.channels.Channels.newChannel(bos))
          w.start(); root.setRowCount(3); w.writeBatch(); w.end(); w.close()
          bos.toByteArray
        } finally root.close()
      } finally a.close()
    }
    val ree = schema(field("r", nullable = false, ArrowType.RunEndEncoded.INSTANCE,
      field("run_ends", nullable = false, new ArrowType.Int(32, true)),
      field("values", nullable = false, new ArrowType.Int(64, true))))
    val cases = Seq(
      "null column" -> arrowJava(schema(field("n", nullable = true, ArrowType.Null.INSTANCE))),
      "zero-column batch" -> arrowJava(schema()),
      "run-end-encoded column" -> ArrowIpc.writeBytes(ree, Seq(Seq.fill(3)(Row(7L)))))
    val before = heapUsed()
    for ((what, good) <- cases) {
      assert(flat(ArrowIpc.readFileBytes(good)._2).length == 3, what)
      val (bomb, patched) = patchI64(good, 3, 1L << 30)
      assert(patched >= 1, what)
      val e = refused(bomb, what)
      assert(e.getMessage.contains(s"${1L << 30} rows declared"), s"$what: expected the row check to refuse, got $e")
    }
    assert(heapUsed() - before < (512L << 20), s"bombs allocated ${(heapUsed() - before) >> 20} MB before failing")
  }

  test("compressed bodies far past 256:1 read back (the limit follows the frames, not a ratio)") {
    // 20 MB of int64 zeros: ZSTD packs it well past 1000:1, LZ4 near 255:1
    val n = 2500000
    val zero = Row(0L)
    val schema = ArrowIpc.arrowSchema(StructType(Seq(StructField("z", LongType, nullable = false))))
    for (codec <- Seq("zstd", "lz4")) {
      val bytes = ArrowIpc.writeBytes(schema, Seq(Seq.fill(n)(zero)), codec)
      if (codec == "zstd") assert(256L * bytes.length < 8L * n, s"zstd file of ${bytes.length} bytes is not past 256:1")
      val rows = flat(ArrowIpc.readFileBytes(bytes)._2)
      assert(rows.length == n && rows.forall(_.getLong(0) == 0L), codec)
    }
    // a ZSTD length prefix that disagrees with its frame's recorded
    // content size refuses before anything is sized from it
    val small = ArrowIpc.writeBytes(schema, Seq(Seq.fill(64)(zero)), "zstd")
    val frame = small.indices.find(i => small.slice(i, i + 4).sameElements(Array(0x28, 0xb5, 0x2f, 0xfd).map(_.toByte))).get
    val declared = java.nio.ByteBuffer.wrap(small).order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong(frame - 8)
    val lying = small.clone()
    lying(frame - 7) = (lying(frame - 7) + 1).toByte // declares 256 bytes more than the frame
    assert(refused(lying, "lying prefix").getMessage.contains(s"declares ${declared + 256} bytes but its frame $declared"))
  }

  test("failed compressed reads return all their memory") {
    // a body that fails part-way through decompression must not strand
    // the buffers arrow-java already decompressed: the read's allocator
    // would then close with memory outstanding and report a leak
    def leaked(t: Throwable): Boolean =
      causes(t).exists(c => String.valueOf(c.getMessage).contains("Memory was leaked") || c.getSuppressed.exists(leaked))
    val rows = laneRows(64)
    var failures = 0
    for (codec <- Seq("zstd", "lz4"); file <- Seq(true, false)) {
      val good = ArrowIpc.writeBytes(laneSchema, Seq(rows, rows), codec, file)
      val read: Array[Byte] => Any = if (file) ArrowIpc.readFileBytes else ArrowIpc.readStreamBytes
      val rnd = new scala.util.Random(20261018L)
      for (_ <- 0 until 150) {
        val b = good.clone()
        val p = rnd.nextInt(b.length)
        b(p) = (b(p) ^ (1 + rnd.nextInt(255))).toByte
        try { read(b); () }
        catch {
          case e: ArrowIpc.ArrowError =>
            failures += 1
            assert(!leaked(e), s"$codec ${if (file) "file" else "stream"} read leaked: $e")
        }
      }
    }
    assert(failures > 100, s"only $failures mutations failed")
  }

  test("writer refusals: dictionary fields and unsupported types refuse loudly") {
    val dictField = schema(new Field("w", new org.apache.arrow.vector.types.pojo.FieldType(true, ArrowType.Utf8.INSTANCE,
      new org.apache.arrow.vector.types.pojo.DictionaryEncoding(3L, false, null)), null))
    intercept[ArrowIpc.ArrowError] { ArrowIpc.writeBytes(dictField, Seq(Seq(Row("a")))) }
    val dec = schema(field("d", nullable = true, new ArrowType.Decimal(10, 2, 128)))
    intercept[ArrowIpc.ArrowError] { ArrowIpc.writeBytes(dec, Seq(Seq(Row(java.math.BigDecimal.ONE)))) }
    intercept[ArrowIpc.ArrowError] { ArrowIpc.arrowSchema(StructType(Seq(StructField("d", DecimalType(10, 2))))) }
  }

  test("empty file (zero batches) round-trips both ways") {
    val schema = ArrowIpc.arrowSchema(StructType(Seq(StructField("x", LongType))))
    val bytes = ArrowIpc.writeBytes(schema, Nil)
    val (as, batches) = ArrowIpc.readFileBytes(bytes)
    assert(as.getFields == schema.getFields && batches.isEmpty)
    import org.apache.arrow.vector.ipc.ArrowFileReader
    import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
    val a = alloc()
    try {
      val r = new ArrowFileReader(new ByteArrayReadableSeekableByteChannel(bytes), a)
      try {
        assert(r.getVectorSchemaRoot.getSchema.getFields.get(0).getName == "x")
        assert(!r.loadNextBatch())
      } finally r.close()
    } finally a.close()
  }
}
