package graft

import graft.ArrowKit._
import graft.sources.ArrowIpc
import org.apache.arrow.vector.types.pojo.ArrowType
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Arrow ListView / LargeListView conformance. Producer/validator is
  * LIVE Arrow Java (ListViewVector ships in arrow-vector 18.3) —
  * including genuinely OVERLAPPING and out-of-order views, which the
  * dense List layout cannot express and which prove the reader honors
  * the offsets+sizes semantics rather than assuming monotonic
  * offsets. Our row writer emits the canonical dense form, which
  * Arrow Java reads back logically. */
class ArrowListViewSpec extends AnyFunSuite {

  private def alloc() = new org.apache.arrow.memory.RootAllocator()

  // child data [10,20,30,40,50,60]; views: overlapping + out of order
  private val childData = Array(10, 20, 30, 40, 50, 60)
  private val views = Vector[(Int, Int)]((2, 3), (0, 5), (-1, -1) /* null */, (4, 0), (1, 4))
  private val expected: Vector[Any] = views.map {
    case (-1, -1) => null
    case (o, s) => childData.slice(o, o + s).toVector
  }

  /** Arrow Java builds a list-view column with raw offsets/sizes. */
  private def javaListViewFile(): Array[Byte] = {
    import org.apache.arrow.vector.IntVector
    import org.apache.arrow.vector.complex.ListViewVector
    import org.apache.arrow.vector.ipc.ArrowFileWriter
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType}
    val a = alloc()
    try {
      val childField = new Field("item", FieldType.nullable(new ArrowType.Int(32, true)), null)
      val lvField = new Field("lv", FieldType.nullable(ArrowType.ListView.INSTANCE),
        java.util.List.of(childField))
      val lv = new ListViewVector(lvField, a, null)
      lv.initializeChildrenFromFields(java.util.List.of(childField))
      lv.allocateNew()
      val child = lv.getDataVector.asInstanceOf[IntVector]
      child.allocateNew(childData.length)
      for (j <- childData.indices) child.setSafe(j, childData(j))
      child.setValueCount(childData.length)
      for (i <- views.indices) {
        views(i) match {
          case (-1, -1) => lv.setNull(i)
          case (o, s) => lv.setValidity(i, 1); lv.setOffset(i, o); lv.setSize(i, s)
        }
      }
      lv.setValueCount(views.length)
      val key = new IntVector("k", a)
      key.allocateNew(views.length)
      for (i <- views.indices) key.setSafe(i, i)
      key.setValueCount(views.length)
      val root = org.apache.arrow.vector.VectorSchemaRoot.of(lv, key)
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val w = new ArrowFileWriter(root, null, java.nio.channels.Channels.newChannel(bos))
        w.start(); w.writeBatch(); w.end(); w.close()
        bos.toByteArray
      } finally root.close()
    } finally a.close()
  }

  test("Arrow Java list-view with OVERLAPPING + out-of-order views decodes") {
    val (schema, batches) = ArrowIpc.readFileBytes(javaListViewFile())
    assert(schema.getFields.get(0).getType == ArrowType.ListView.INSTANCE)
    val rows = flat(batches)
    for (i <- views.indices) assert(rows(i).get(0) == expected(i), s"lv[$i]: got ${rows(i).get(0)}")
  }

  // ----------------------------------------------------------- our writer

  private def lvSchema(wide: Boolean) = ArrowKit.schema(
    field("lv", nullable = true, if (wide) ArrowType.LargeListView.INSTANCE else ArrowType.ListView.INSTANCE,
      field("item", nullable = true, new ArrowType.Int(32, true))),
    field("k", nullable = false, new ArrowType.Int(32, true)))

  private def lvList(i: Int): Seq[Int] = if (i % 7 == 3) null else Seq.tabulate(i % 5)(j => i * 10 + j)
  private def lvRows(n: Int): Seq[Row] = (0 until n).map(i => Row(lvList(i), i))

  test("round-trip: our dense list-view writer -> our reader, both widths, all codecs") {
    for (wide <- Seq(false, true); codec <- Seq("none", "lz4", "zstd")) {
      val bytes = ArrowIpc.writeBytes(lvSchema(wide), Seq(lvRows(23)), codec)
      val (schema, batches) = ArrowIpc.readFileBytes(bytes)
      assert(schema.getFields.get(0).getType == lvSchema(wide).getFields.get(0).getType)
      val rows = flat(batches)
      for (i <- 0 until 23) assert(rows(i).get(0) == lvList(i), s"wide=$wide codec=$codec lv[$i]")
    }
  }

  test("our writer -> Arrow Java reader, logical lists equal") {
    import org.apache.arrow.vector.ipc.ArrowFileReader
    import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
    val bytes = ArrowIpc.writeBytes(lvSchema(wide = false), Seq(lvRows(23)))
    val a = alloc()
    try {
      val r = new ArrowFileReader(new ByteArrayReadableSeekableByteChannel(bytes), a)
      try {
        assert(r.loadNextBatch(), "Arrow Java rejects our list-view file")
        val root = r.getVectorSchemaRoot
        val lv = root.getVector("lv")
        for (i <- 0 until 23) {
          val exp = lvList(i)
          if (exp == null) assert(lv.isNull(i), s"lv[$i] should be null")
          else {
            val got = lv.getObject(i).asInstanceOf[java.util.List[_]]
            assert(got.size == exp.length, s"lv[$i] size")
            for (j <- 0 until got.size) assert(got.get(j) == exp(j), s"lv[$i][$j]")
          }
        }
      } finally r.close()
    } finally a.close()
  }

  test("Spark face: list-view -> ArrayType; scan + pruned read") {
    val spark = TestSpark.spark
    val bytes = javaListViewFile()
    val dir = java.nio.file.Files.createTempDirectory("arrow_lv").toFile
    try {
      java.nio.file.Files.write(new java.io.File(dir, "lv.arrow").toPath, bytes)
      val df = spark.read.format("arrowipc").load(new java.io.File(dir, "lv.arrow").getPath)
      assert(df.schema("lv").dataType.isInstanceOf[org.apache.spark.sql.types.ArrayType])
      val rows = df.collect().sortBy(_.getInt(1))
      for (i <- views.indices) {
        if (expected(i) == null) assert(rows(i).isNullAt(0), s"row $i")
        else assert(rows(i).getSeq[Int](0) == expected(i), s"row $i")
      }
      // pruned: the list-view's 3 buffers + child never reach the loader
      assert(df.select("k").collect().map(_.getInt(0)).sorted.toSeq == views.indices.toSeq)
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("hostility: byte-flip fuzz over a list-view file raises ArrowError or decodes") {
    flipFuzz(ArrowIpc.writeBytes(lvSchema(wide = false), Seq(lvRows(23))), seed = 184)
  }
}
