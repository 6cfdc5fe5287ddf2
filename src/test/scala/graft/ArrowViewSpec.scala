package graft

import graft.ArrowKit._
import graft.sources.ArrowIpc
import graft.sources.ArrowIpc._
import org.apache.arrow.vector.types.pojo.{ArrowType, Schema}
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Arrow Utf8View / BinaryView: the 16-byte view structs (length +
  * inline-or-(prefix, bufIdx, offset)) over VARIADIC data buffers,
  * whose per-column count travels in the RecordBatch's
  * variadicBufferCounts field — and which column pruning must carve
  * out of a batch along with the view column's other buffers.
  *
  * Producers/validators: committed pyarrow 16.1 fixtures (views.arrow
  * / views_zstd.arrow — pyarrow writes views only on explicit request,
  * never by default) and LIVE Arrow Java 18.3 (ViewVarCharVector /
  * ViewVarBinaryVector) reading our row writer's bytes. */
class ArrowViewSpec extends AnyFunSuite {

  /** fixture formulas (tools/gen_arrow_fixtures.py) */
  private def sv(i: Int): String =
    if (i % 7 == 3) null
    else if (i % 3 != 0) s"s$i"
    else s"long-string-payload-beyond-twelve-bytes-$i"
  private def bv(i: Int): Array[Byte] =
    if (i % 5 == 2) null else Array.tabulate(i % 19)(j => ((i + j) % 256).toByte)

  private def checkViews(schema: Schema, batches: Seq[Seq[Row]], n: Int): Unit = {
    assert(names(schema) == Seq("sv", "bv", "k"))
    assert(schema.getFields.get(0).getType == ArrowType.Utf8View.INSTANCE)
    assert(schema.getFields.get(1).getType == ArrowType.BinaryView.INSTANCE)
    val rows = flat(batches)
    assert(rows.length == n)
    for (i <- 0 until n) {
      assert(rows(i).get(0) == sv(i), s"sv[$i]: got ${rows(i).get(0)}")
      if (bv(i) == null) assert(rows(i).get(1) == null, s"bv[$i] should be null")
      else assert(java.util.Arrays.equals(rows(i).getAs[Array[Byte]](1), bv(i)), s"bv[$i]")
      assert(rows(i).get(2) == i.toLong)
    }
  }

  test("views.arrow: pyarrow string_view + binary_view decode (inline + out-of-line, nulls, 3 batches)") {
    val (schema, batches) = ArrowIpc.readFileBytes(fixture("views.arrow"))
    assert(batches.map(_.length) == Seq(16, 16, 5))
    checkViews(schema, batches, 37)
  }

  test("views_zstd.arrow: compressed view bodies decode via the in-tree codec") {
    val (schema, batches) = ArrowIpc.readFileBytes(fixture("views_zstd.arrow"))
    checkViews(schema, batches, 37)
  }

  private val viewSchema = ArrowKit.schema(
    field("sv", nullable = true, ArrowType.Utf8View.INSTANCE),
    field("bv", nullable = true, ArrowType.BinaryView.INSTANCE),
    field("k", nullable = false, new ArrowType.Int(64, true)))

  private def viewRows(n: Int): Seq[Row] = (0 until n).map(i => Row(sv(i), bv(i), i.toLong))

  test("view round-trip: our writer -> our reader, all codecs") {
    for (codec <- Seq("none", "lz4", "zstd")) {
      val bytes = ArrowIpc.writeBytes(viewSchema, Seq(viewRows(37)), codec)
      val (schema, batches) = ArrowIpc.readFileBytes(bytes)
      checkViews(schema, batches, 37)
    }
  }

  test("our view writer -> Arrow Java ViewVarChar/ViewVarBinary readers, values equal") {
    import org.apache.arrow.vector.ipc.ArrowFileReader
    import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
    val bytes = ArrowIpc.writeBytes(viewSchema, Seq(viewRows(37)))
    val a = new org.apache.arrow.memory.RootAllocator()
    try {
      val r = new ArrowFileReader(new ByteArrayReadableSeekableByteChannel(bytes), a)
      try {
        assert(r.loadNextBatch(), "Arrow Java rejects our view file")
        val root = r.getVectorSchemaRoot
        assert(root.getRowCount == 37)
        val svv = root.getVector("sv")
        val bvv = root.getVector("bv")
        assert(svv.isInstanceOf[org.apache.arrow.vector.ViewVarCharVector])
        for (i <- 0 until 37) {
          if (sv(i) == null) assert(svv.isNull(i), s"sv[$i] should be null")
          else assert(svv.getObject(i).toString == sv(i), s"sv[$i]")
          if (bv(i) == null) assert(bvv.isNull(i), s"bv[$i] should be null")
          else assert(java.util.Arrays.equals(bvv.getObject(i).asInstanceOf[Array[Byte]], bv(i)), s"bv[$i]")
        }
      } finally r.close()
    } finally a.close()
  }

  test("Arrow Java re-serializes the pyarrow view fixture; our reader decodes its bytes") {
    val (s1, b1) = ArrowIpc.readFileBytes(reserialize(fixture("views.arrow")))
    checkViews(s1, b1, 37)
  }

  test("DSv2 face: view columns read as string/binary; pruning skips a poisoned view column") {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("arrow_views")
    try {
      val bytes = ArrowIpc.writeBytes(viewSchema, Seq(viewRows(37)), "zstd")
      java.nio.file.Files.write(dir.resolve("good.arrow"), bytes)
      val df = spark.read.format("arrowipc").load(dir.resolve("good.arrow").toString)
      assert(df.schema.fieldNames.toSeq == Seq("sv", "bv", "k"))
      val rows = df.selectExpr("k", "sv", "bv").collect().sortBy(_.getLong(0))
      assert(rows.length == 37)
      for (i <- 0 until 37) {
        assert(rows(i).getString(1) == sv(i), s"row $i sv")
        if (bv(i) == null) assert(rows(i).get(2) == null)
        else assert(java.util.Arrays.equals(rows(i).getAs[Array[Byte]](2), bv(i)), s"row $i bv")
      }
      // poison: the utf8-view column LAST, every value out of line, so
      // its variadic data buffer is the final (and largest) body buffer
      val poisonSchema = ArrowKit.schema(
        field("k", nullable = false, new ArrowType.Int(64, true)),
        field("bv", nullable = true, ArrowType.BinaryView.INSTANCE),
        field("sv", nullable = true, ArrowType.Utf8View.INSTANCE))
      val n = 400
      val good = ArrowIpc.writeBytes(poisonSchema,
        Seq((0 until n).map(i => Row(i.toLong, bv(i), s"long-string-payload-beyond-twelve-bytes-$i-" + ("pad" * 20)))), "zstd")
      val fLen = java.nio.ByteBuffer.wrap(good, good.length - 10, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      val eosStart = good.length - 10 - fLen - 8
      val poisoned = good.clone()
      for (p <- eosStart - 76 until eosStart - 12) poisoned(p) = (poisoned(p) ^ 0x5a).toByte
      intercept[ArrowError] { ArrowIpc.readFileBytes(poisoned) }
      val p = dir.resolve("poisoned.arrow")
      java.nio.file.Files.write(p, poisoned)
      val pdf = spark.read.format("arrowipc").load(p.toString)
      intercept[Exception] { pdf.selectExpr("sum(length(sv))").collect() }
      // the pruned read never hands the poisoned view buffers to the loader
      val pruned = pdf.select("k", "bv").collect()
      assert(pruned.map(_.getLong(0)).sorted.toSeq == (0L until n.toLong))
      assert(pruned.sortBy(_.getLong(0)).zipWithIndex.forall { case (r, i) =>
        if (bv(i) == null) r.isNullAt(1) else java.util.Arrays.equals(r.getAs[Array[Byte]](1), bv(i))
      })
    } finally {
      dir.toFile.listFiles().foreach(_.delete()); java.nio.file.Files.delete(dir)
    }
  }

  test("hostility: bad buffer index / extent / prefix and missing variadic counts raise ArrowError") {
    // mutation fuzz: every flip decodes equal-bytes or raises ArrowError
    flipFuzz(ArrowIpc.writeBytes(viewSchema, Seq(viewRows(20))), seed = 1824)
    // writer refusals: wrong value kinds
    intercept[ArrowError](ArrowIpc.writeBytes(
      ArrowKit.schema(field("sv", nullable = true, ArrowType.Utf8View.INSTANCE)), Seq(Seq(Row(Array[Byte](1, 2))))))
    intercept[ArrowError](ArrowIpc.writeBytes(
      ArrowKit.schema(field("bv", nullable = true, ArrowType.BinaryView.INSTANCE)), Seq(Seq(Row("nope")))))
  }
}
