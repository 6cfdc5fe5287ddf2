package lanebench

import graft.sources.{Bzip2, Lz4, Snappy, Xz, Zstd}
import graft.text.Brotli

/** Single-thread microbench of the in-tree codecs through their public
  * encode/decode functions. Every decode must give back the input bytes
  * exactly; a mismatch or a throw is recorded, never skipped. */
object Codecs {
  final case class Codec(name: String, module: String, enc: Array[Byte] => Array[Byte], dec: Array[Byte] => Array[Byte])

  val all: Seq[Codec] = Seq(
    Codec("zstd", "sources", Zstd.encode(_), Zstd.decode(_)),
    Codec("xz", "sources", Xz.encodeRawXz(_), Xz.decode(_)),
    Codec("bzip2", "sources", Bzip2.encode(_), Bzip2.decode(_)),
    Codec("lz4", "sources", Lz4.encode(_), Lz4.decode(_)),
    Codec("snappy", "sources", Snappy.hadoopEncode(_), Snappy.decode(_)),
    Codec("brotli", "text", Brotli.encodeRaw, Brotli.decode(_)))

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e6)
  }

  /** `reps` timed encode and decode rounds per codec; with more than one,
    * as many untimed rounds first let the JIT compile the codec. */
  def run(corpus: Array[Byte], reps: Int): Map[String, java.util.Map[String, Any]] =
    all.map { c =>
      val m = Tracer.jmap("module" -> c.module, "in_bytes" -> corpus.length)
      try {
        if (reps > 1) (1 to reps).foreach(_ => c.dec(c.enc(corpus)))
        val enc = (1 to reps).map(_ => timed(c.enc(corpus)))
        val packed = enc.head._1
        val dec = (1 to reps).map(_ => timed(c.dec(packed)))
        m.put("out_bytes", packed.length)
        m.put("encode_ms", enc.map(_._2).toArray)
        m.put("decode_ms", dec.map(_._2).toArray)
        m.put("roundtrip_ok", enc.forall(e => java.util.Arrays.equals(e._1, packed)) &&
          dec.forall(d => java.util.Arrays.equals(d._1, corpus)))
      } catch {
        case e: Throwable =>
          m.put("roundtrip_ok", false)
          m.put("error", LaneBench.errorClass(e))
      }
      c.name -> m
    }.toMap
}
