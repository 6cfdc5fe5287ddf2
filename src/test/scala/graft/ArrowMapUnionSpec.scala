package graft

import graft.ArrowKit._
import graft.sources.ArrowIpc
import graft.sources.ArrowIpc._
import org.apache.arrow.vector.types.UnionMode
import org.apache.arrow.vector.types.pojo.{ArrowType, Schema}
import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** Arrow map + union (dense and sparse) through the Spark face.
  *
  * Producers/validators: committed pyarrow 16.1 fixtures
  * (tools/gen_arrow_fixtures.py — map.arrow / map_zstd.arrow /
  * union_dense.arrow / union_sparse.arrow, values deterministic
  * formulas of the row index, re-read by pyarrow at capture), plus
  * LIVE Arrow Java: our row writer's map bytes read by ArrowFileReader,
  * and Arrow Java re-serializing the pyarrow fixtures through
  * ArrowFileWriter with our reader decoding the fresh bytes. */
class ArrowMapUnionSpec extends AnyFunSuite {

  private def alloc() = new org.apache.arrow.memory.RootAllocator()

  // ------------------------------------------- generator formula mirrors

  /** map.arrow row i: null when i%6==5, else (i%4) entries
    * ("k{i}_{j}" -> i*10+j, value null when (i+j)%5==4). */
  private def expectedEntries(i: Int): Seq[(String, Any)] =
    Seq.tabulate(i % 4) { j =>
      s"k${i}_$j" -> (if ((i + j) % 5 == 4) null else java.lang.Long.valueOf(i * 10L + j))
    }
  private def expectedMap(i: Int): Map[String, Any] = if (i % 6 == 5) null else expectedEntries(i).toMap

  private def checkMapFixture(schema: Schema, batches: Seq[Seq[Row]], n: Int): Unit = {
    assert(names(schema) == Seq("m", "k"))
    val m = schema.getFields.get(0)
    assert(m.getType == new ArrowType.Map(false))
    val entries = m.getChildren.get(0)
    assert(entries.getName == "entries" && !entries.isNullable)
    assert(names(new Schema(entries.getChildren)) == Seq("key", "value"))
    assert(!entries.getChildren.get(0).isNullable)
    val rows = flat(batches)
    assert(rows.length == n)
    for (i <- 0 until n) {
      assert(rows(i).get(0) == expectedMap(i), s"m[$i]: got ${rows(i).get(0)}")
      assert(rows(i).get(1) == i.toLong)
    }
  }

  /** union fixtures row i: num slot (value i*7, null when i%12==6)
    * when i%3==0, else word slot ("w{i%11}", null when i%10==7) —
    * faced as Row(type_id, num, word). */
  private def expectedUnion(i: Int, numTid: Int, wordTid: Int): Row =
    if (i % 3 == 0) Row(numTid.toByte, if (i % 12 == 6) null else i * 7L, null)
    else Row(wordTid.toByte, null, if (i % 10 == 7) null else s"w${i % 11}")

  private def checkUnionFixture(schema: Schema, batches: Seq[Seq[Row]], n: Int,
      dense: Boolean, numTid: Int, wordTid: Int): Unit = {
    assert(names(schema) == Seq("u", "k"))
    val u = schema.getFields.get(0)
    val t = u.getType.asInstanceOf[ArrowType.Union]
    assert(t.getMode == (if (dense) UnionMode.Dense else UnionMode.Sparse))
    assert(Option(t.getTypeIds).map(_.toSeq).getOrElse(Seq(0, 1)) == Seq(numTid, wordTid))
    assert(names(new Schema(u.getChildren)) == Seq("num", "word"))
    val rows = flat(batches)
    assert(rows.length == n)
    for (i <- 0 until n) {
      assert(rows(i).get(0) == expectedUnion(i, numTid, wordTid), s"u[$i]: got ${rows(i).get(0)}")
      assert(rows(i).get(1) == i.toLong)
    }
  }

  // ------------------------------------------------------ pyarrow fixtures

  test("map.arrow: pyarrow map<utf8,int64> decodes (nulls in maps and values, 3 batches)") {
    val (schema, batches) = ArrowIpc.readFileBytes(fixture("map.arrow"))
    assert(batches.map(_.length) == Seq(16, 16, 5))
    checkMapFixture(schema, batches, 37)
  }

  test("map_zstd.arrow: compressed map bodies decode via the in-tree codec") {
    val (schema, batches) = ArrowIpc.readFileBytes(fixture("map_zstd.arrow"))
    checkMapFixture(schema, batches, 37)
  }

  test("union_dense.arrow: pyarrow dense union with non-contiguous type ids (2, 5)") {
    val (schema, batches) = ArrowIpc.readFileBytes(fixture("union_dense.arrow"))
    assert(batches.map(_.length) == Seq(20, 17))
    checkUnionFixture(schema, batches, 37, dense = true, numTid = 2, wordTid = 5)
  }

  test("union_sparse.arrow: pyarrow sparse union (default contiguous ids)") {
    val (schema, batches) = ArrowIpc.readFileBytes(fixture("union_sparse.arrow"))
    checkUnionFixture(schema, batches, 37, dense = false, numTid = 0, wordTid = 1)
  }

  // --------------------------------------------------------- our writer

  private val mapSchema = ArrowIpc.arrowSchema(StructType(Seq(
    StructField("m", MapType(StringType, LongType, valueContainsNull = true)),
    StructField("k", LongType, nullable = false))))

  private def mapRows(n: Int): Seq[Row] = (0 until n).map(i => Row(expectedMap(i), i.toLong))

  test("map round-trip: our writer -> our reader, all codecs") {
    for (codec <- Seq("none", "lz4", "zstd")) {
      val bytes = ArrowIpc.writeBytes(mapSchema, Seq(mapRows(37)), codec)
      val (schema, batches) = ArrowIpc.readFileBytes(bytes)
      checkMapFixture(schema, batches, 37)
    }
  }

  test("our map writer -> Arrow Java file reader, entries equal") {
    import org.apache.arrow.vector.ipc.ArrowFileReader
    import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
    val bytes = ArrowIpc.writeBytes(mapSchema, Seq(mapRows(37)))
    val a = alloc()
    try {
      val r = new ArrowFileReader(new ByteArrayReadableSeekableByteChannel(bytes), a)
      try {
        assert(r.loadNextBatch(), "Arrow Java rejects our map file")
        val root = r.getVectorSchemaRoot
        assert(root.getRowCount == 37)
        val mv = root.getVector("m")
        for (i <- 0 until 37) {
          if (i % 6 == 5) assert(mv.isNull(i), s"m[$i] should be null")
          else {
            val entries = mv.getObject(i).asInstanceOf[java.util.List[_]]
            val exp = expectedEntries(i)
            assert(entries.size == exp.length, s"m[$i] size")
            for (j <- exp.indices) {
              val e = entries.get(j).asInstanceOf[java.util.Map[String, AnyRef]]
              assert(e.get("key").toString == exp(j)._1, s"m[$i][$j] key")
              assert(e.get("value") == exp(j)._2, s"m[$i][$j] value")
            }
          }
        }
      } finally r.close()
    } finally a.close()
  }

  // --------------------------- LIVE: Arrow Java as producer -> our reader

  test("Arrow Java re-serializes the pyarrow map+union fixtures; our reader decodes its bytes") {
    for (name <- Seq("map.arrow", "union_dense.arrow", "union_sparse.arrow")) {
      val original = fixture(name)
      val (s1, b1) = ArrowIpc.readFileBytes(reserialize(original))
      val (s2, b2) = ArrowIpc.readFileBytes(original)
      assert(s1.getFields == s2.getFields, s"$name: schema drift through Arrow Java")
      assert(flat(b1) == flat(b2), s"$name: value drift through Arrow Java")
    }
  }

  // ------------------------------------------------------------ Spark face

  test("Spark face: map -> MapType, union -> {type_id, variants} struct; scan() values") {
    val spark = TestSpark.spark
    assert(ArrowIpc.sparkSchema(ArrowIpc.readFileBytes(fixture("map.arrow"))._1) ==
      StructType(Seq(
        StructField("m", MapType(StringType, LongType, valueContainsNull = true), nullable = true),
        StructField("k", LongType, nullable = true))))
    val dir = java.nio.file.Files.createTempDirectory("arrow_mu").toFile
    try {
      for (name <- Seq("map.arrow", "union_dense.arrow")) {
        val p = new java.io.File(dir, name)
        java.nio.file.Files.write(p.toPath, fixture(name))
      }
      val mdf = spark.read.format("arrowipc").load(new java.io.File(dir, "map.arrow").getPath)
      val mrows = mdf.collect().sortBy(_.getLong(1))
      assert(mrows.length == 37)
      for (i <- 0 until 37) {
        val got = mrows(i).getMap[String, Any](0)
        if (i % 6 == 5) assert(got == null)
        else assert(got.toMap == expectedMap(i), s"row $i")
      }
      val udf2 = spark.read.format("arrowipc").load(new java.io.File(dir, "union_dense.arrow").getPath)
      val urows = udf2.collect().sortBy(_.getLong(1))
      assert(udf2.schema.fields.head.dataType.asInstanceOf[StructType]
        .fieldNames.toSeq == Seq("type_id", "num", "word"))
      for (i <- 0 until 37) assert(urows(i).getStruct(0) == expectedUnion(i, 2, 5), s"row $i")
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  test("DSv2 face: map column reads and prunes through spark.read.format(arrowipc)") {
    val spark = TestSpark.spark
    val dir = java.nio.file.Files.createTempDirectory("arrow_mu_dsv2").toFile
    try {
      java.nio.file.Files.write(new java.io.File(dir, "map.arrow").toPath, fixture("map.arrow"))
      val df = spark.read.format("arrowipc").load(new java.io.File(dir, "map.arrow").getPath)
      val full = df.selectExpr("k", "m['k14_1'] as v").where("k = 14").collect()
      assert(full.length == 1 && full(0).getLong(1) == 141L)
      // pruned: only k survives — the map column must not be decoded
      val pruned = df.select("k")
      val rows = pruned.collect()
      assert(rows.length == 37 && rows.map(_.getLong(0)).sorted.toSeq == (0L until 37L))
    } finally {
      dir.listFiles().foreach(_.delete()); dir.delete()
    }
  }

  // ------------------------------------------------------------- hostility

  test("hostility: undeclared type ids, bad offsets, null map keys raise ArrowError") {
    // writer refuses null map keys
    intercept[ArrowError] {
      ArrowIpc.writeBytes(mapSchema, Seq(Seq(Row(Map((null: String) -> 1L), 0L))))
    }
    // reader: flip bytes of the pyarrow dense-union and map files (type
    // ids, offsets, entry extents); each decode is equal-bytes or
    // ArrowError, never a raw index error
    flipFuzz(fixture("union_dense.arrow"), seed = 181)
    flipFuzz(fixture("map.arrow"), seed = 183)
  }
}
