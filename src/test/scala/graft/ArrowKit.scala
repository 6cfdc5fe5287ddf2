package graft

import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.spark.sql.Row

/** Shared helpers for the Arrow specs: arrow-java schema builders, the
  * committed fixtures, and flattening a decode's batches to rows. */
object ArrowKit {
  def field(name: String, nullable: Boolean, t: ArrowType, kids: Field*): Field =
    new Field(name, new FieldType(nullable, t, null), java.util.List.of(kids: _*))

  def schema(fields: Field*): Schema = new Schema(java.util.List.of(fields: _*))

  def names(s: Schema): Seq[String] = (0 until s.getFields.size).map(s.getFields.get(_).getName)

  def fixture(name: String): Array[Byte] = {
    val in = getClass.getResourceAsStream(s"/graft/arrow/$name")
    assert(in != null, s"missing fixture $name")
    try in.readAllBytes()
    finally in.close()
  }

  def flat(batches: Seq[Seq[Row]]): IndexedSeq[Row] = batches.flatten.toIndexedSeq

  /** Re-serialize a FILE through arrow-java's reader and writer. */
  def reserialize(original: Array[Byte]): Array[Byte] = {
    import org.apache.arrow.vector.ipc.{ArrowFileReader, ArrowFileWriter}
    import org.apache.arrow.vector.util.ByteArrayReadableSeekableByteChannel
    val a = new org.apache.arrow.memory.RootAllocator()
    try {
      val r = new ArrowFileReader(new ByteArrayReadableSeekableByteChannel(original), a)
      try {
        val bos = new java.io.ByteArrayOutputStream()
        val w = new ArrowFileWriter(r.getVectorSchemaRoot, r, java.nio.channels.Channels.newChannel(bos))
        w.start()
        while (r.loadNextBatch()) w.writeBatch()
        w.end(); w.close()
        bos.toByteArray
      } finally r.close()
    } finally a.close()
  }

  /** Every byte-flip of `good` must decode or raise ArrowError — never
    * a raw index, negative-size or allocator error. */
  def flipFuzz(good: Array[Byte], seed: Long, rounds: Int = 400): Unit = {
    val rnd = new scala.util.Random(seed)
    for (_ <- 0 until rounds) {
      val mutated = good.clone()
      val at = rnd.nextInt(mutated.length)
      mutated(at) = (mutated(at) ^ (1 + rnd.nextInt(255))).toByte
      try { graft.sources.ArrowIpc.readFileBytes(mutated); () }
      catch { case _: graft.sources.ArrowIpc.ArrowError => () }
    }
  }
}
