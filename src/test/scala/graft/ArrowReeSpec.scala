package graft

import graft.ArrowKit._
import graft.sources.ArrowIpc
import graft.sources.ArrowIpc._
import org.apache.arrow.vector.types.FloatingPointPrecision
import org.apache.arrow.vector.types.pojo.ArrowType
import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

/** Arrow run-end-encoded (REE) conformance.
  *
  * Producer/validator is LIVE Arrow Java (RunEndEncodedVector ships
  * in arrow-vector 18.3 on the Spark classpath): Arrow Java builds
  * REE files our reader decodes, and Arrow Java's ArrowFileReader
  * reads our row writer's run-length-compressed bytes back logically. pyarrow 16.1 cannot be
  * the producer here — its RunEndEncodedArray.from_arrays binding is
  * broken in-container (NOTES_r18 probe), which is why this lane's
  * cross-ecosystem check is Java-only. */
class ArrowReeSpec extends AnyFunSuite {

  private def alloc() = new org.apache.arrow.memory.RootAllocator()

  // run layout used throughout: 8 runs over 37 logical rows
  private val runEnds = Array(2, 3, 7, 12, 20, 21, 30, 37)
  /** run j carries value j*7, null when j%3 == 2 */
  private def runValue(j: Int): java.lang.Long =
    if (j % 3 == 2) null else java.lang.Long.valueOf(j * 7L)
  private def expected(i: Int): java.lang.Long = {
    val j = runEnds.indexWhere(_ > i)
    runValue(j)
  }

  // ---------------------------------------------- Arrow Java as producer

  /** Build a 2-column file (r: ree<int32, int64>, k: int64) with
    * Arrow Java and return its file-format bytes. */
  private def javaReeFile(): Array[Byte] = {
    import org.apache.arrow.vector.{BigIntVector, IntVector}
    import org.apache.arrow.vector.complex.RunEndEncodedVector
    import org.apache.arrow.vector.ipc.ArrowFileWriter
    import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType}
    val a = alloc()
    try {
      val reField = new Field("run_ends",
        FieldType.notNullable(new ArrowType.Int(32, true)), null)
      val valField = new Field("values",
        FieldType.nullable(new ArrowType.Int(64, true)), null)
      val reeField = new Field("r",
        FieldType.notNullable(ArrowType.RunEndEncoded.INSTANCE),
        java.util.List.of(reField, valField))
      val ree = new RunEndEncodedVector(reeField, a, null)
      ree.initializeChildrenFromFields(java.util.List.of(reField, valField))
      val re = ree.getRunEndsVector.asInstanceOf[IntVector]
      val vv = ree.getValuesVector.asInstanceOf[BigIntVector]
      re.allocateNew(runEnds.length); vv.allocateNew(runEnds.length)
      for (j <- runEnds.indices) {
        re.setSafe(j, runEnds(j))
        val v = runValue(j)
        if (v == null) vv.setNull(j) else vv.setSafe(j, v.longValue)
      }
      re.setValueCount(runEnds.length); vv.setValueCount(runEnds.length)
      ree.setValueCount(37)
      val key = new BigIntVector("k", a)
      key.allocateNew(37)
      for (i <- 0 until 37) key.setSafe(i, i.toLong)
      key.setValueCount(37)
      val root = org.apache.arrow.vector.VectorSchemaRoot.of(ree, key)
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val w = new ArrowFileWriter(root, null, java.nio.channels.Channels.newChannel(bos))
        w.start(); w.writeBatch(); w.end(); w.close()
        bos.toByteArray
      } finally root.close()
    } finally a.close()
  }

  test("Arrow Java REE file decodes: runs expand to the values type, nulls ride null runs") {
    val (schema, batches) = ArrowIpc.readFileBytes(javaReeFile())
    val r = schema.getFields.get(0)
    assert(r.getType == ArrowType.RunEndEncoded.INSTANCE, s"got ${r.getType}")
    assert(r.getChildren.get(0).getName == "run_ends" && r.getChildren.get(1).getName == "values")
    val rows = flat(batches)
    assert(rows.length == 37)
    for (i <- 0 until 37) {
      assert(rows(i).get(0) == expected(i), s"r[$i]: got ${rows(i).get(0)} want ${expected(i)}")
      assert(rows(i).get(1) == i.toLong)
    }
  }

  // --------------------------------------------------------- our writer

  private def reeSchema(valType: ArrowType, valNullable: Boolean, endsType: ArrowType = new ArrowType.Int(32, true),
      endsNullable: Boolean = false) = ArrowKit.schema(
    field("r", nullable = false, ArrowType.RunEndEncoded.INSTANCE,
      field("run_ends", endsNullable, endsType),
      field("values", valNullable, valType)),
    field("k", nullable = false, new ArrowType.Int(64, true)))

  private val i64 = new ArrowType.Int(64, true)
  private def plainRows(n: Int): Seq[Row] = (0 until n).map(i => Row(expected(i), i.toLong))

  test("round-trip: our writer run-length compresses, our reader expands — all codecs") {
    for (codec <- Seq("none", "lz4", "zstd")) {
      val bytes = ArrowIpc.writeBytes(reeSchema(i64, valNullable = true), Seq(plainRows(37)), codec)
      val (schema, batches) = ArrowIpc.readFileBytes(bytes)
      assert(schema.getFields.get(0).getType == ArrowType.RunEndEncoded.INSTANCE)
      val rows = flat(batches)
      for (i <- 0 until 37) assert(rows(i).get(0) == expected(i), s"codec=$codec r[$i]")
    }
  }

  test("round-trip: utf8 values child (string runs)") {
    val colVals = Array.tabulate[Any](37) { i =>
      val e = expected(i); if (e == null) null else s"s${e.longValue}"
    }
    val bytes = ArrowIpc.writeBytes(reeSchema(ArrowType.Utf8.INSTANCE, valNullable = true),
      Seq((0 until 37).map(i => Row(colVals(i), i.toLong))))
    val (_, batches) = ArrowIpc.readFileBytes(bytes)
    val rows = flat(batches)
    for (i <- 0 until 37) assert(rows(i).get(0) == colVals(i), s"r[$i]")
  }

  test("our writer -> Arrow Java file reader, logical values equal") {
    import org.apache.arrow.vector.ipc.ArrowFileReader
    import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
    val bytes = ArrowIpc.writeBytes(reeSchema(i64, valNullable = true), Seq(plainRows(37)))
    val a = alloc()
    try {
      val r = new ArrowFileReader(new ByteArrayReadableSeekableByteChannel(bytes), a)
      try {
        assert(r.loadNextBatch(), "Arrow Java rejects our REE file")
        val root = r.getVectorSchemaRoot
        assert(root.getRowCount == 37)
        val rv = root.getVector("r")
        assert(rv.isInstanceOf[org.apache.arrow.vector.complex.RunEndEncodedVector])
        // the writer must have actually run-length compressed: 8 runs
        assert(rv.asInstanceOf[org.apache.arrow.vector.complex.RunEndEncodedVector]
          .getRunEndsVector.getValueCount == runEnds.length)
        for (i <- 0 until 37) {
          val got = rv.getObject(i)
          assert(got == expected(i), s"r[$i]: got $got want ${expected(i)}")
        }
      } finally r.close()
    } finally a.close()
  }

  // ------------------------------------------------------------ Spark face

  test("Spark face: REE column surfaces as its values type; scan() expands") {
    val spark = TestSpark.spark
    val bytes = ArrowIpc.writeBytes(reeSchema(i64, valNullable = true), Seq(plainRows(37)))
    val schema = ArrowIpc.readFileBytes(bytes)._1
    val st = ArrowIpc.sparkSchema(schema)
    assert(st.fields(0).dataType == org.apache.spark.sql.types.LongType)
    // values child is nullable, so the faced column must be nullable
    // even though the REE parent declares non-nullable
    assert(st.fields(0).nullable)
    val dir = java.nio.file.Files.createTempDirectory("arrow_ree").toFile
    try {
      java.nio.file.Files.write(new java.io.File(dir, "ree.arrow").toPath, bytes)
      val df = spark.read.format("arrowipc").load(new java.io.File(dir, "ree.arrow").getPath)
      val rows = df.collect().sortBy(_.getLong(1))
      assert(rows.length == 37)
      for (i <- 0 until 37) {
        val e = expected(i)
        if (e == null) assert(rows(i).isNullAt(0), s"row $i")
        else assert(rows(i).getLong(0) == e.longValue, s"row $i")
      }
      // pruned read: the REE column's nodes and buffers never reach the loader
      val ks = df.select("k").collect().map(_.getLong(0)).sorted.toSeq
      assert(ks == (0L until 37L))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  // ------------------------------------------------------------- hostility

  test("hostility: malformed REE raises ArrowError, never raw errors") {
    // schema-level: nullable run_ends child must refuse at parse
    val badBytes = ArrowIpc.writeBytes(reeSchema(i64, valNullable = true, endsNullable = true), Seq(plainRows(2)))
    intercept[ArrowError] { ArrowIpc.readFileBytes(badBytes) }
    // float run_ends must refuse at parse
    intercept[ArrowError] {
      ArrowIpc.readFileBytes(ArrowIpc.writeBytes(
        reeSchema(i64, valNullable = true, endsType = new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)),
        Seq(plainRows(2))))
    }
    // byte-flip fuzz over a valid REE file: equal-bytes or ArrowError
    flipFuzz(ArrowIpc.writeBytes(reeSchema(i64, valNullable = true), Seq(plainRows(37))), seed = 182)
  }
}
