package graft.sources

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.{SeekableByteChannel, WritableByteChannel}
import java.nio.charset.StandardCharsets.UTF_8
import scala.jdk.CollectionConverters._
import scala.util.Using
import scala.util.control.NonFatal

import com.github.luben.zstd.Zstd
import org.apache.arrow.compression.CommonsCompressionFactory
import org.apache.arrow.flatbuf.{DictionaryBatch, Footer, Message, MessageHeader}
import org.apache.arrow.memory.{ArrowBuf, BufferAllocator, RootAllocator}
import org.apache.arrow.vector._
import org.apache.arrow.vector.complex._
import org.apache.arrow.vector.compression.{CompressionCodec, CompressionUtil, NoCompressionCodec}
import org.apache.arrow.vector.dictionary.Dictionary
import org.apache.arrow.vector.ipc.{ArrowFileWriter, ArrowStreamWriter, ArrowWriter, ReadChannel}
import org.apache.arrow.vector.ipc.message.{ArrowBlock, ArrowFieldNode, ArrowFooter, ArrowRecordBatch, IpcOption, MessageSerializer}
import org.apache.arrow.vector.types.{DateUnit, FloatingPointPrecision, TimeUnit}
import org.apache.arrow.vector.types.pojo.{ArrowType, Field, FieldType, Schema}
import org.apache.arrow.vector.util.{ByteArrayReadableSeekableByteChannel, DictionaryUtility}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.types._

/** Arrow IPC — the ML-ecosystem columnar interchange format
  * (HuggingFace `datasets` memory-maps exactly this; `.arrow` /
  * Feather-v2 files, `.arrows` streams).
  *
  * arrow-java (arrow-vector + arrow-compression, shipped on the Spark
  * classpath) owns the format: footer and message flatbuffers, buffer
  * layouts, dictionaries, and LZ4_FRAME / ZSTD bodies. This object
  * owns what the jar does not do:
  *  - the Spark face: [[sparkType]] / [[sparkSchema]] and the per-vector
  *    cell readers — u64 reads as decimal(20,0) (the lossless carrier),
  *    unions as a `{type_id, variant...}` struct (Spark has no union
  *    type), run-end-encoded columns as their values type, utf8/binary
  *    views as string/binary — and the Spark-row -> vector [[Writer]];
  *  - ranged, pruned reads: an [[IpcFile]] opens on the footer alone
  *    (the footer IS the batch index), and [[IpcFile.rows]] hands
  *    arrow-java a sub-batch of only the wanted fields' nodes and
  *    buffers, so a pruned column is never decompressed, and loads
  *    only the dictionaries a wanted field references;
  *  - the untrusted-bytes contract: any failure on hostile bytes —
  *    arrow-java, Netty, flatbuffers or the JVM — surfaces as
  *    [[ArrowError]]; every read runs in its own allocator whose limit
  *    grows only by the bytes read and what they provably decompress
  *    to ([[Read]]), so a declared size the bytes cannot back is
  *    refused, not allocated, and a failed read returns all it took. */
object ArrowIpc {

  final class ArrowError(msg: String, cause: Throwable = null) extends RuntimeException(msg, cause)
  private def fail(msg: String): Nothing = throw new ArrowError(msg)
  @inline private def req(c: Boolean, msg: => String): Unit = if (!c) fail(msg)

  /** Wrap whatever hostile bytes make arrow-java, Netty or the JVM
    * throw into the named error. */
  private def guarded[T](what: String)(f: => T): T =
    try f
    catch {
      case e: ArrowError => throw e
      case e @ (NonFatal(_) | _: OutOfMemoryError | _: StackOverflowError) =>
        throw new ArrowError(s"arrow: malformed $what (${e.getClass.getSimpleName}: ${e.getMessage})", e)
    }

  private val Magic = "ARROW1".getBytes(UTF_8)

  // ------------------------------------------------------------- Spark face

  def sparkType(f: Field): DataType = {
    def kids = f.getChildren.asScala.toSeq
    def kid(c: Field) = StructField(c.getName, sparkType(c), effNullable(c))
    f.getType match {
      case _: ArrowType.Null => NullType
      case t: ArrowType.Int =>
        (t.getBitWidth, t.getIsSigned) match {
          case (8, true) => ByteType
          case (8, false) | (16, true) => ShortType
          case (16, false) | (32, true) => IntegerType
          case (32, false) | (64, true) => LongType
          case (64, false) => DecimalType(20, 0) // lossless u64 carrier
          case (b, s) => fail(s"arrow: no Spark type for int($b, signed=$s) '${f.getName}'")
        }
      case t: ArrowType.FloatingPoint =>
        if (t.getPrecision == FloatingPointPrecision.DOUBLE) DoubleType else FloatType
      case _: ArrowType.Utf8 | _: ArrowType.LargeUtf8 | _: ArrowType.Utf8View => StringType
      case _: ArrowType.Binary | _: ArrowType.LargeBinary | _: ArrowType.BinaryView |
          _: ArrowType.FixedSizeBinary => BinaryType
      case _: ArrowType.Bool => BooleanType
      case t: ArrowType.Decimal if t.getBitWidth == 128 => DecimalType(t.getPrecision, t.getScale)
      case _: ArrowType.Date => DateType
      case _: ArrowType.Timestamp => TimestampType
      case t: ArrowType.Time => if (t.getBitWidth == 32) IntegerType else LongType
      case _: ArrowType.Duration => LongType
      case _: ArrowType.List | _: ArrowType.LargeList | _: ArrowType.FixedSizeList |
          _: ArrowType.ListView | _: ArrowType.LargeListView =>
        req(kids.length == 1, s"arrow: list '${f.getName}' needs exactly one child")
        ArrayType(sparkType(kids.head), containsNull = effNullable(kids.head))
      case _: ArrowType.Struct => StructType(kids.map(kid))
      case _: ArrowType.Map =>
        req(kids.length == 1 && kids.head.getChildren.size == 2 && !kids.head.isNullable &&
          !kids.head.getChildren.get(0).isNullable,
          s"arrow: map '${f.getName}' must carry one non-null entries child with a non-null key + value")
        val Seq(k, v) = kids.head.getChildren.asScala.toSeq
        MapType(sparkType(k), sparkType(v), valueContainsNull = effNullable(v))
      case t: ArrowType.Union =>
        val ids = Option(t.getTypeIds).map(_.toSeq).getOrElse(kids.indices)
        req(kids.nonEmpty && ids.length == kids.length && ids.distinct.length == ids.length &&
          ids.forall(i => i >= 0 && i <= 127), s"arrow: union '${f.getName}' type ids $ids for ${kids.length} children")
        // the Avro-union face: the selecting tag plus one nullable field per variant
        StructType(StructField("type_id", ByteType, nullable = false) +: kids.map(kid(_).copy(nullable = true)))
      case _: ArrowType.RunEndEncoded =>
        req(kids.length == 2, s"arrow: run-end-encoded '${f.getName}' needs run_ends + values children")
        val ends = kids.head
        req(!ends.isNullable && ends.getDictionary == null && (ends.getType match {
          case t: ArrowType.Int => t.getIsSigned && Set(16, 32, 64)(t.getBitWidth)
          case _ => false
        }), s"arrow: run-end-encoded '${f.getName}' run_ends must be non-null int16/32/64")
        sparkType(kids(1)) // reads expand runs to the values type
      case t => fail(s"arrow: unsupported type $t for field '${f.getName}'")
    }
  }

  /** A run-end-encoded field yields nulls whenever its VALUES child
    * does, regardless of the parent's declared nullability. */
  private def effNullable(f: Field): Boolean = f.getType match {
    case _: ArrowType.RunEndEncoded => f.isNullable || effNullable(f.getChildren.get(1))
    case _ => f.isNullable
  }

  def sparkSchema(s: Schema): StructType =
    StructType(s.getFields.asScala.toSeq.map(f => StructField(f.getName, sparkType(f), effNullable(f))))

  /** Cell reader for a loaded vector: row -> Spark external value.
    * Extents that would size an allocation (value lengths, list and
    * dictionary indices) are bounded before use; every other read goes
    * through arrow-java's bounds-checked buffers. */
  private def cell(f: Field, v: FieldVector, dicts: java.util.Map[java.lang.Long, Dictionary], cap: Long): Int => Any = {
    def sub(j: Int) = cell(f.getChildren.get(j), v.getChildrenFromFields.get(j), dicts, cap)
    /** child-0 elements [start, end) of row i, e.g. a list's items */
    def span(at: Int => (Long, Long)): Int => Any = {
      val child = v.getChildrenFromFields.get(0)
      val c = sub(0)
      i => {
        val (a, b) = at(i)
        req(a >= 0 && a <= b && b <= child.getValueCount,
          s"arrow: list extent [$a,$b) outside child of ${child.getValueCount} in '${f.getName}'")
        (a.toInt until b.toInt).map(c)
      }
    }
    def union(tid: Int => Int, slot: Int => Int): Int => Any = {
      val kids = v.getChildrenFromFields.asScala.toIndexedSeq
      val ids = Option(f.getType.asInstanceOf[ArrowType.Union].getTypeIds).map(_.toSeq).getOrElse(kids.indices)
      val byId = ids.zipWithIndex.toMap
      val reads = kids.indices.map(sub)
      i => {
        val t = tid(i)
        val c = byId.getOrElse(t, fail(s"arrow: union '${f.getName}' slot $i has undeclared type id $t"))
        val s = slot(i)
        req(s >= 0 && s < kids(c).getValueCount, s"arrow: union '${f.getName}' offset $s outside its child")
        new GenericRow(Array.tabulate[Any](kids.length + 1)(j => if (j == 0) t.toByte else if (j == c + 1) reads(c)(s) else null))
      }
    }
    val read: Int => Any = Option(f.getDictionary) match {
      case Some(enc) =>
        val d = Option(dicts.get(enc.getId))
          .getOrElse(fail(s"arrow: field '${f.getName}' references unknown dictionary ${enc.getId}")).getVector
        val value = cell(d.getField, d, dicts, cap)
        val ix = v.asInstanceOf[BaseIntVector]
        i => {
          val k = ix.getValueAsLong(i)
          req(k >= 0 && k < d.getValueCount, s"arrow: dictionary index $k outside ${d.getValueCount}")
          value(k.toInt)
        }
      case None =>
        v match {
          case _: NullVector => _ => null
          case x: UInt8Vector => i => new java.math.BigDecimal(x.getObjectNoOverflow(i))
          case x: BaseIntVector => // unsigned getters come back masked; narrow to the face's width
            sparkType(f) match {
              case ByteType => i => x.getValueAsLong(i).toByte
              case ShortType => i => x.getValueAsLong(i).toShort
              case IntegerType => i => x.getValueAsLong(i).toInt
              case _ => i => x.getValueAsLong(i)
            }
          case x: Float8Vector => i => x.get(i)
          case x: FloatingPointVector => i => x.getValueAsDouble(i).toFloat
          case x: BitVector => i => x.get(i) != 0
          case x: VariableWidthFieldVector =>
            val text = isText(x)
            i => {
              val n = x.getValueLength(i)
              req(n >= 0 && n <= cap, s"arrow: value of $n bytes in '${f.getName}'")
              val b = x.get(i)
              if (text) new String(b, UTF_8) else b
            }
          case x: FixedSizeBinaryVector => i => x.get(i)
          case x: DecimalVector => i => x.getObject(i)
          case x: DateDayVector => i => java.time.LocalDate.ofEpochDay(x.get(i).toLong)
          case x: DateMilliVector => i => java.time.LocalDate.ofEpochDay(Math.floorDiv(x.get(i), 86400000L))
          case x: TimeSecVector => i => x.get(i)
          case x: TimeMilliVector => i => x.get(i)
          case x: TimeMicroVector => i => x.get(i)
          case x: TimeNanoVector => i => x.get(i)
          case x: TimeStampVector =>
            val perSec = f.getType.asInstanceOf[ArrowType.Timestamp].getUnit match {
              case TimeUnit.SECOND => 1L
              case TimeUnit.MILLISECOND => 1000L
              case TimeUnit.MICROSECOND => 1000000L
              case TimeUnit.NANOSECOND => 1000000000L
            }
            i => {
              val t = x.get(i)
              java.time.Instant.ofEpochSecond(Math.floorDiv(t, perSec), Math.floorMod(t, perSec) * (1000000000L / perSec))
            }
          case x: DurationVector => i => DurationVector.get(x.getDataBuffer, i)
          case x: MapVector =>
            val entries = span(i => (x.getElementStartIndex(i).toLong, x.getElementEndIndex(i).toLong))
            i => entries(i).asInstanceOf[Seq[Row]].map { e =>
              req(e != null && !e.isNullAt(0), s"arrow: map '${f.getName}' has a null entry or key")
              e.get(0) -> e.get(1)
            }.toMap
          case x: ListViewVector => // views: (offset, size) pairs, possibly overlapping
            span(i => { val a = x.getOffsetBuffer.getInt(4L * i).toLong; (a, a + x.getSizeBuffer.getInt(4L * i)) })
          case x: LargeListViewVector =>
            span(i => { val a = x.getOffsetBuffer.getLong(8L * i); (a, a + x.getSizeBuffer.getLong(8L * i)) })
          case x: BaseListVector => // list, fixed-size list
            span(i => (x.getElementStartIndex(i).toLong, x.getElementEndIndex(i).toLong))
          case x: LargeListVector => span(i => (x.getElementStartIndex(i), x.getElementEndIndex(i)))
          case _: StructVector =>
            val kids = Array.tabulate(f.getChildren.size)(sub)
            i => new GenericRow(kids.map(_(i)))
          case x: UnionVector => union(x.getTypeValue, identity)
          case x: DenseUnionVector => union(x.getTypeId(_).toInt, x.getOffset)
          case x: RunEndEncodedVector =>
            val ends = x.getRunEndsVector.asInstanceOf[BaseIntVector]
            val values = cell(f.getChildren.get(1), x.getValuesVector, dicts, cap)
            req(ends.getValueCount == x.getValuesVector.getValueCount,
              s"arrow: run-end-encoded '${f.getName}' has ${ends.getValueCount} run ends for ${x.getValuesVector.getValueCount} values")
            val last = (0 until ends.getValueCount).foldLeft(0L) { (prev, j) =>
              val e = ends.getValueAsLong(j)
              req(e > prev && e <= Int.MaxValue, s"arrow: run ends of '${f.getName}' must increase strictly (got $e after $prev)")
              e
            }
            req(last >= x.getValueCount, s"arrow: run-end-encoded '${f.getName}' runs cover only $last of ${x.getValueCount} rows")
            i => values(x.getPhysicalIndex(i))
          case _ => fail(s"arrow: unsupported type ${f.getType} for field '${f.getName}'")
        }
    }
    v match { // unions and runs carry their nulls in the children
      case _: UnionVector | _: DenseUnionVector | _: RunEndEncodedVector => read
      case _ => i => if (v.isNull(i)) null else read(i)
    }
  }

  private def isText(v: ValueVector): Boolean = v match {
    case _: VarCharVector | _: LargeVarCharVector | _: ViewVarCharVector => true
    case _ => false
  }

  private def rowsOf(root: VectorSchemaRoot, dicts: java.util.Map[java.lang.Long, Dictionary], cap: Long): Seq[Row] = {
    val cols = root.getSchema.getFields.asScala.toArray.zip(root.getFieldVectors.asScala).map { case (f, v) => cell(f, v, dicts, cap) }
    Vector.tabulate(root.getRowCount)(r => new GenericRow(cols.map(_(r))))
  }

  // ----------------------------------------------------------------- reads

  private def read(ch: SeekableByteChannel, off: Long, n: Int): Array[Byte] = {
    val b = ByteBuffer.allocate(n)
    ch.position(off)
    while (b.hasRemaining) req(ch.read(b) >= 0, s"arrow: truncated at ranged read ($off,$n)")
    b.array
  }

  /** One read's Arrow memory, and the allocation-bomb guard. The
    * allocator's limit starts at 16 MiB and grows only by what the
    * input backs: each message body as it is read, and each compressed
    * buffer by its checked decompressed length ([[unpacked]]). A
    * declared size the bytes cannot back therefore hits the limit and
    * is refused, not allocated, and the limit never exceeds a fixed
    * multiple of the bytes read plus what they provably decompress to.
    *
    * Every body and every decompressed buffer is recorded. When a load
    * fails part-way, arrow-java's loader drops the references it held
    * to them; [[close]] returns those, after the vectors, so no failed
    * read strands memory. */
  private final class Read(ch: SeekableByteChannel) extends AutoCloseable {
    private val alloc = new RootAllocator(16L << 20)
    private val dicts = new java.util.HashMap[java.lang.Long, Dictionary]()
    private val held = scala.collection.mutable.ArrayBuffer.empty[ArrowBuf]
    private def hold(b: ArrowBuf): ArrowBuf = { held += b; b }

    /** Room for `n` backed bytes: twice for the allocator's power-of-two
      * rounding, twice again for the validity bitmaps arrow-java
      * rebuilds where a writer elided them. */
    private def grant(n: Long): Unit = alloc.setLimit(alloc.getLimit + 4 * n)

    private val codecs: CompressionCodec.Factory = new CompressionCodec.Factory {
      def createCodec(t: CompressionUtil.CodecType, level: Int): CompressionCodec = createCodec(t)
      def createCodec(t: CompressionUtil.CodecType): CompressionCodec = {
        val c = CommonsCompressionFactory.INSTANCE.createCodec(t)
        new CompressionCodec {
          def compress(a: BufferAllocator, b: ArrowBuf): ArrowBuf = c.compress(a, b)
          def decompress(a: BufferAllocator, b: ArrowBuf): ArrowBuf = hold(c.decompress(a, b))
          def getCodecType: CompressionUtil.CodecType = c.getCodecType
        }
      }
    }

    /** `fields` in memory form, registering the dictionaries they
      * reference; only those are ever loaded. */
    def memory(fields: Seq[Field]): Seq[Field] = fields.map(DictionaryUtility.toMemoryFormat(_, alloc, dicts))

    def wantsDictionaries: Boolean = !dicts.isEmpty

    /** The `len`-byte body at `at`, read into this read's memory and
      * deserialized, for `use`. */
    private def body[B <: AutoCloseable, T](at: Long, len: Long, deserialize: ArrowBuf => B)(use: B => T): T = {
      grant(len)
      val buf = hold(alloc.buffer(len))
      ch.position(at)
      req(new ReadChannel(ch).readFully(buf, len) == len, s"arrow: truncated body at $at")
      Using.resource(deserialize(buf))(use)
    }

    /** Load dictionary batch `m` (body of `len` at `at`) if a wanted
      * field references it; otherwise its body is never read. */
    def dictionary(m: Message, at: Long, len: Long): Unit =
      Option(dicts.get(m.header(new DictionaryBatch).asInstanceOf[DictionaryBatch].id)).foreach { d =>
        val v = d.getVector
        body(at, len, MessageSerializer.deserializeDictionaryBatch(m, _)) { db =>
          req(!db.isDelta, "arrow: delta dictionaries are not supported")
          load(new VectorSchemaRoot(java.util.List.of(v.getField), java.util.List.of(v), 0), db.getDictionary, len)
        }
      }

    /** Rows of record batch `m` (body of `len` at `at`) holding only the
      * top-level `fields` at `wanted`, whose memory form is `mem`. */
    def batch(m: Message, at: Long, len: Long, fields: Seq[Field], wanted: Seq[Int], mem: Seq[Field]): Seq[Row] = {
      val rows = Using.resource(VectorSchemaRoot.create(new Schema(mem.asJava), alloc)) { root =>
        body(at, len, MessageSerializer.deserializeRecordBatch(m, _)) { b =>
          Using.resource(prune(b, fields, wanted.toSet))(load(root, _, len))
        }
        rowsOf(root, dicts, alloc.getLimit)
      }
      held.filterInPlace(_.getReferenceManager.getRefCount > 0)
      rows
    }

    /** Nothing backs a row of a null, run-end-encoded or field-less
      * column, so no batch or field node may declare more rows than
      * 8 per backed byte (a bit-packed column's density), past a floor
      * real writers stay far below. */
    private def load(root: VectorSchemaRoot, b: ArrowRecordBatch, bodyLen: Long): Unit = {
      val backed = bodyLen + unpacked(b)
      val most = math.max(1L << 26, 8 * backed)
      (b.getLength.toLong +: b.getNodes.asScala.toSeq.map(_.getLength.toLong)).foreach { n =>
        req(n >= 0 && n <= most, s"arrow: $n rows declared over $backed backed bytes")
      }
      grant(backed - bodyLen)
      new VectorLoader(root, codecs).load(b)
    }

    def close(): Unit =
      try dicts.values.forEach(_.getVector.close())
      finally {
        // the vectors are closed, so any reference left is one a failed load dropped
        held.foreach { b => val r = b.getReferenceManager; if (r.getRefCount > 0) r.release(r.getRefCount) }
        alloc.close()
      }
  }

  /** The decompressed length of `b`'s compressed buffers, each 8-byte
    * length prefix checked against what its frame can yield: an LZ4
    * frame expands at most ~255:1; a ZSTD frame yields at most one
    * 128 KiB block per 4 bytes, and where its header records a content
    * size, that must be the declared one. */
  private def unpacked(b: ArrowRecordBatch): Long = {
    val codec = CompressionUtil.CodecType.fromCompressionType(b.getBodyCompression.getCodec)
    if (codec == CompressionUtil.CodecType.NO_COMPRESSION) 0L
    else b.getBuffers.asScala.iterator.filter(_.writerIndex > 0).map { buf =>
      val n = buf.writerIndex - 8
      req(n >= 0, s"arrow: compressed buffer of ${buf.writerIndex} bytes has no length prefix")
      val len = buf.getLong(0)
      if (len == -1 || len == 0) 0L // stored uncompressed, or empty
      else {
        val most =
          if (codec == CompressionUtil.CodecType.LZ4_FRAME) 256 * n
          else {
            val head = new Array[Byte](math.min(n, 18L).toInt) // a frame header is at most 18 bytes
            buf.getBytes(8, head)
            val framed = Zstd.getFrameContentSize(head) // -1: the frame does not record it
            req(framed == len || framed == -1, s"arrow: ZSTD buffer declares $len bytes but its frame $framed")
            32768 * n
          }
        req(len > 0 && len <= math.min(most, Int.MaxValue), s"arrow: $n compressed bytes cannot back $len")
        len
      }
    }.sum
  }

  /** An IPC FILE opened for ranged reads. Opening touches only the
    * 8-byte head magic, the 10-byte tail and the footer flatbuffer — a
    * driver plans a 100 GB shard from three small reads — bounds every
    * block extent against the file and refuses overlapping blocks, so
    * fetch tasks can trust them and no read covers a byte twice, and
    * checks the schema has a Spark face. */
  final class IpcFile(ch: SeekableByteChannel) {
    val footer: ArrowFooter = guarded("footer") {
      val len = ch.size
      req(len >= 24, s"arrow: file too short ($len bytes)")
      req(read(ch, 0, 8).sameElements(Magic ++ Array[Byte](0, 0)), "arrow: bad file magic")
      val tail = read(ch, len - 10, 10)
      req(tail.drop(4).sameElements(Magic), "arrow: bad trailing magic")
      val fLen = ByteBuffer.wrap(tail).order(ByteOrder.LITTLE_ENDIAN).getInt(0)
      req(fLen > 0 && fLen <= len - 18, s"arrow: footer length $fLen out of range")
      val f = new ArrowFooter(Footer.getRootAsFooter(ByteBuffer.wrap(read(ch, len - 10 - fLen, fLen))))
      val blocks = (f.getDictionaries.asScala ++ f.getRecordBatches.asScala).toSeq.sortBy(_.getOffset)
      blocks.foreach { b =>
        // overflow-safe: subtract the bounded lengths instead of summing hostile ones
        req(b.getOffset >= 8 && b.getMetadataLength > 0 && b.getBodyLength >= 0 &&
          b.getOffset <= len - 10 - fLen - b.getMetadataLength - b.getBodyLength,
          s"arrow: block extent (${b.getOffset},${b.getMetadataLength},${b.getBodyLength}) outside file of $len")
      }
      blocks.zip(blocks.drop(1)).foreach { case (a, b) =>
        req(a.getOffset + a.getMetadataLength + a.getBodyLength <= b.getOffset,
          s"arrow: footer blocks at ${a.getOffset} and ${b.getOffset} overlap")
      }
      f
    }
    def schema: Schema = footer.getSchema
    val face: StructType = guarded("schema")(sparkSchema(schema))
    def batches: Int = footer.getRecordBatches.size

    /** Rows of record batch `i` holding only the top-level fields at
      * `wanted` (schema positions, in schema order). Dictionary blocks
      * no wanted field references are skipped on their metadata alone. */
    def rows(i: Int, wanted: Seq[Int]): Seq[Row] = guarded("record batch") {
      val fields = schema.getFields.asScala.toIndexedSeq
      Using.resource(new Read(ch)) { r =>
        val mem = r.memory(wanted.map(fields))
        if (r.wantsDictionaries) footer.getDictionaries.forEach { blk =>
          r.dictionary(header(blk, MessageHeader.DictionaryBatch), blk.getOffset + blk.getMetadataLength, blk.getBodyLength)
        }
        val blk = footer.getRecordBatches.get(i)
        r.batch(header(blk, MessageHeader.RecordBatch), blk.getOffset + blk.getMetadataLength, blk.getBodyLength, fields, wanted, mem)
      }
    }

    /** Block `blk`'s message flatbuffer, from its metadata bytes alone:
      * the 8-byte continuation + length prefix (4-byte legacy framing),
      * then the message. */
    private def header(blk: ArrowBlock, expected: Byte): Message = {
      val meta = ByteBuffer.wrap(read(ch, blk.getOffset, blk.getMetadataLength)).order(ByteOrder.LITTLE_ENDIAN)
      meta.position(if (meta.getInt(0) == MessageSerializer.IPC_CONTINUATION_TOKEN) 8 else 4)
      val m = Message.getRootAsMessage(meta.slice().order(ByteOrder.LITTLE_ENDIAN))
      req(m.headerType == expected, s"arrow: block at ${blk.getOffset} holds message type ${m.headerType}, not $expected")
      m
    }
  }

  /** The `keep` fields' share of a record batch — their field nodes,
    * buffers and variadic counts in the batch's flattened pre-order —
    * as a batch of its own, so the loader never sees, let alone
    * decompresses, a pruned column's buffers. */
  private def prune(b: ArrowRecordBatch, fields: Seq[Field], keep: Int => Boolean): ArrowRecordBatch = {
    val nodes = b.getNodes.iterator
    val bufs = b.getBuffers.iterator
    val vars = b.getVariadicBufferCounts.iterator
    val (kn, kb, kv) = (new java.util.ArrayList[ArrowFieldNode], new java.util.ArrayList[ArrowBuf], new java.util.ArrayList[java.lang.Long])
    def walk(f: Field, k: Boolean): Unit = {
      req(nodes.hasNext, s"arrow: batch has no field node for '${f.getName}'")
      val node = nodes.next()
      val t = Option(f.getDictionary).map(_.getIndexType).getOrElse(f.getType)
      var n = TypeLayout.getTypeBufferCount(t).toLong
      if (t.isInstanceOf[ArrowType.Utf8View] || t.isInstanceOf[ArrowType.BinaryView]) {
        req(vars.hasNext, s"arrow: view field '${f.getName}' has no variadic buffer count")
        val c = vars.next()
        n += c
        if (k) kv.add(c)
      }
      if (k) kn.add(node)
      while (n > 0) {
        req(bufs.hasNext, s"arrow: batch has too few buffers for '${f.getName}'")
        val x = bufs.next()
        if (k) kb.add(x)
        n -= 1
      }
      if (f.getDictionary == null) f.getChildren.forEach(walk(_, k))
    }
    fields.zipWithIndex.foreach { case (f, i) => walk(f, keep(i)) }
    new ArrowRecordBatch(b.getLength, kn, kb, b.getBodyCompression, kv, true)
  }

  /** Run `f` over the FILE at `path` (the DSv2 face's entry point). */
  private[sources] def open[T](path: String)(f: IpcFile => T): T =
    Using.resource(java.nio.channels.FileChannel.open(java.nio.file.Paths.get(path)))(ch => f(new IpcFile(ch)))

  /** Decode a whole FILE-format payload: its schema and each record
    * batch's rows in Spark external form. */
  def readFileBytes(bytes: Array[Byte]): (Schema, Seq[Seq[Row]]) = {
    val f = new IpcFile(new ByteArrayReadableSeekableByteChannel(bytes))
    val all = f.schema.getFields.asScala.indices
    (f.schema, (0 until f.batches).map(f.rows(_, all)))
  }

  /** Decode a whole STREAM-format payload (`.arrows`). Streams have no
    * footer, so the messages are walked in order — each length prefix
    * and body length bounded against the bytes actually present — and
    * their bodies load through the same [[Read]] as a file's blocks. A
    * dictionary batch replaces the dictionary for the batches after it. */
  def readStreamBytes(bytes: Array[Byte]): (Schema, Seq[Seq[Row]]) = guarded("stream") {
    val bb = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    Using.resource(new Read(new ByteArrayReadableSeekableByteChannel(bytes))) { r =>
      var schema: Option[(Schema, Seq[Field])] = None
      val batches = Vector.newBuilder[Seq[Row]]
      var p = 0L
      while (p + 4 <= bytes.length) {
        // continuation + length, or the legacy bare length
        val at = if (bb.getInt(p.toInt) == MessageSerializer.IPC_CONTINUATION_TOKEN) p + 8 else p + 4
        req(at <= bytes.length, "arrow: truncated message prefix")
        val n = bb.getInt(at.toInt - 4)
        if (n == 0) p = bytes.length // end-of-stream marker
        else {
          req(n > 0 && n <= bytes.length - at, s"arrow: message length $n beyond the stream")
          val m = Message.getRootAsMessage(
            bb.duplicate().position(at.toInt).limit((at + n).toInt).slice().order(ByteOrder.LITTLE_ENDIAN))
          val body = m.bodyLength
          req(body >= 0 && body <= bytes.length - at - n, s"arrow: message body $body beyond the stream")
          def declared = schema.getOrElse(fail(s"arrow: stream message type ${m.headerType} before its schema"))
          m.headerType match {
            case MessageHeader.Schema =>
              req(schema.isEmpty, "arrow: stream declares a second schema")
              val s = MessageSerializer.deserializeSchema(m)
              sparkSchema(s)
              schema = Some((s, r.memory(s.getFields.asScala.toSeq)))
            case MessageHeader.DictionaryBatch =>
              declared
              r.dictionary(m, at + n, body)
            case MessageHeader.RecordBatch =>
              val (s, mem) = declared
              val fields = s.getFields.asScala.toIndexedSeq
              batches += r.batch(m, at + n, body, fields, fields.indices, mem)
            case t => fail(s"arrow: unexpected message type $t in a stream")
          }
          p = at + n + body
        }
      }
      (schema.getOrElse(fail("arrow: stream has no schema"))._1, batches.result())
    }
  }

  // ---------------------------------------------------------------- writes

  /** Spark column -> Arrow field: the write matrix. decimal(20,0) writes
    * back as a genuine u64; other types refuse. */
  def arrowField(f: StructField): Field = {
    def fld(t: ArrowType, kids: Field*) = new Field(f.name, new FieldType(f.nullable, t, null), kids.asJava)
    f.dataType match {
      case ByteType => fld(new ArrowType.Int(8, true))
      case ShortType => fld(new ArrowType.Int(16, true))
      case IntegerType => fld(new ArrowType.Int(32, true))
      case LongType => fld(new ArrowType.Int(64, true))
      case FloatType => fld(new ArrowType.FloatingPoint(FloatingPointPrecision.SINGLE))
      case DoubleType => fld(new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE))
      case StringType => fld(ArrowType.Utf8.INSTANCE)
      case BinaryType => fld(ArrowType.Binary.INSTANCE)
      case BooleanType => fld(ArrowType.Bool.INSTANCE)
      case d: DecimalType if d.precision == 20 && d.scale == 0 => fld(new ArrowType.Int(64, false))
      case DateType => fld(new ArrowType.Date(DateUnit.DAY))
      case TimestampType => fld(new ArrowType.Timestamp(TimeUnit.MICROSECOND, "UTC"))
      case ArrayType(et, containsNull) => fld(ArrowType.List.INSTANCE, arrowField(StructField("item", et, containsNull)))
      case st: StructType => fld(ArrowType.Struct.INSTANCE, st.fields.toSeq.map(arrowField): _*)
      case MapType(kt, vt, valueContainsNull) =>
        fld(new ArrowType.Map(false), new Field("entries", FieldType.notNullable(ArrowType.Struct.INSTANCE),
          java.util.List.of(arrowField(StructField("key", kt, nullable = false)), arrowField(StructField("value", vt, valueContainsNull)))))
      case dt => fail(s"arrowipc write: unsupported type $dt for '${f.name}'")
    }
  }

  def arrowSchema(s: StructType): Schema = new Schema(s.fields.toSeq.map(arrowField).asJava)

  private[sources] def codecOf(name: String): CompressionUtil.CodecType = name.toLowerCase match {
    case "none" | "" => CompressionUtil.CodecType.NO_COMPRESSION
    case "lz4" => CompressionUtil.CodecType.LZ4_FRAME
    case "zstd" => CompressionUtil.CodecType.ZSTD
    case other => throw new IllegalArgumentException(s"arrowipc: unknown codec '$other' (none|lz4|zstd)")
  }

  /** Set slot `i` of `v` from a Spark external value; a null leaves the
    * slot unset, which arrow-java reads as null. */
  private def put(v: FieldVector, i: Int, x: Any): Unit = if (x != null) (v, x) match {
    case (w: UInt8Vector, d: java.math.BigDecimal) =>
      val big = d.toBigIntegerExact
      req(big.signum >= 0 && big.bitLength <= 64, s"arrowipc write: $big outside uint64")
      w.setWithPossibleTruncate(i, big.longValue) // raw two's-complement low 64 bits
    case (w: BaseIntVector, n: java.lang.Number) => w.setWithPossibleTruncate(i, n.longValue)
    case (w: FloatingPointVector, n: java.lang.Number) => w.setSafeWithPossibleTruncate(i, n.doubleValue)
    case (w: BitVector, b: Boolean) => w.setSafe(i, if (b) 1 else 0)
    case (w: VariableWidthFieldVector, s: String) if isText(w) => w.setSafe(i, s.getBytes(UTF_8))
    case (w: VariableWidthFieldVector, b: Array[Byte]) if !isText(w) => w.setSafe(i, b)
    case (w: DateDayVector, d: java.time.LocalDate) => w.setSafe(i, d.toEpochDay.toInt)
    case (w: DateDayVector, d: java.sql.Date) => w.setSafe(i, d.toLocalDate.toEpochDay.toInt)
    case (w: TimeStampMicroTZVector, t: java.time.Instant) => w.setSafe(i, t.getEpochSecond * 1000000L + t.getNano / 1000L)
    case (w: TimeStampMicroTZVector, t: java.sql.Timestamp) =>
      // Spark's fromJavaTimestamp: getTime already floors pre-epoch
      // instants to the milli; only the sub-milli nanos add on top
      w.setSafe(i, t.getTime * 1000L + (t.getNanos / 1000L) % 1000L)
    case (w: MapVector, m: scala.collection.Map[_, _]) =>
      val e = w.getDataVector.asInstanceOf[StructVector]
      val at = w.startNewValue(i)
      m.iterator.zipWithIndex.foreach { case ((k, mv), j) =>
        req(k != null, "arrow writer: map keys must be non-null")
        e.setIndexDefined(at + j)
        put(e.getChildrenFromFields.get(0), at + j, k)
        put(e.getChildrenFromFields.get(1), at + j, mv)
      }
      w.endValue(i, m.size)
    case (w: ListVector, s: scala.collection.Seq[_]) => w.endValue(i, fill(w.getDataVector, w.startNewValue(i), s))
    case (w: ListViewVector, s: scala.collection.Seq[_]) => w.endValue(i, fill(w.getDataVector, w.startNewValue(i), s))
    case (w: LargeListViewVector, s: scala.collection.Seq[_]) => w.endValue(i, fill(w.getDataVector, w.startNewValue(i), s))
    case (w: StructVector, r: Row) =>
      w.setIndexDefined(i)
      w.getChildrenFromFields.asScala.zipWithIndex.foreach { case (c, j) => put(c, i, r.get(j)) }
    case _ => fail(s"arrow writer: ${x.getClass.getSimpleName} value for field ${v.getField}")
  }

  private def fill(child: FieldVector, at: Int, s: scala.collection.Seq[_]): Int = {
    s.iterator.zipWithIndex.foreach { case (e, j) => put(child, at + j, e) }
    s.size
  }

  /** Run-length compress a column into a run-end-encoded vector: each
    * run of equal adjacent values becomes one (run end, value) pair. */
  private def runs(v: RunEndEncodedVector, xs: Seq[Any]): Unit = {
    val ends = v.getRunEndsVector.asInstanceOf[BaseIntVector]
    var n = 0
    xs.indices.foreach { i =>
      if (i == 0 || !java.util.Objects.deepEquals(xs(i - 1), xs(i))) { put(v.getValuesVector, n, xs(i)); n += 1 }
      ends.setWithPossibleTruncate(n - 1, i + 1L)
    }
    ends.setValueCount(n)
    v.getValuesVector.setValueCount(n)
  }

  /** Streams record batches of Spark external rows (Row / Seq / Map /
    * LocalDate or Date / Instant or Timestamp, BigDecimal for u64) into
    * an IPC FILE or STREAM on `out`, bodies compressed per `codec`
    * (none | lz4 | zstd) by arrow-compression. One batch of vectors is
    * live at a time; `close` ends the payload and closes `out`. */
  final class Writer(out: WritableByteChannel, schema: Schema, codec: String, file: Boolean) extends AutoCloseable {
    private def encoded(f: Field): Boolean = f.getDictionary != null || f.getChildren.asScala.exists(encoded)
    req(!schema.getFields.asScala.exists(encoded), "arrow writer: dictionary encoding is read-only")
    private val alloc = new RootAllocator()
    private val (root, w) = guarded("write") {
      val root = VectorSchemaRoot.create(schema, alloc)
      val t = codecOf(codec)
      val factory = if (t == CompressionUtil.CodecType.NO_COMPRESSION) NoCompressionCodec.Factory.INSTANCE else CommonsCompressionFactory.INSTANCE
      val w: ArrowWriter =
        if (file) new ArrowFileWriter(root, null, out, java.util.Map.of[String, String](), IpcOption.DEFAULT, factory, t)
        else new ArrowStreamWriter(root, null, out, IpcOption.DEFAULT, factory, t)
      w.start()
      (root, w)
    }
    private var open = true

    def batch(rows: Seq[Row]): Unit = guarded("write") {
      root.allocateNew()
      root.getFieldVectors.asScala.zipWithIndex.foreach {
        case (v: RunEndEncodedVector, c) => runs(v, rows.map(_.get(c)))
        case (v, c) => rows.iterator.zipWithIndex.foreach { case (r, i) => put(v, i, r.get(c)) }
      }
      root.setRowCount(rows.size)
      w.writeBatch()
    }

    def close(): Unit = if (open) {
      open = false
      try guarded("write")(w.close())
      finally { root.close(); alloc.close() }
    }
  }

  /** Encode `batches` as a whole FILE or STREAM payload in memory. */
  def writeBytes(schema: Schema, batches: Seq[Seq[Row]], codec: String = "none", file: Boolean = true): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    Using.resource(new Writer(java.nio.channels.Channels.newChannel(bos), schema, codec, file))(w => batches.foreach(w.batch))
    bos.toByteArray
  }

  // --------------------------------------------------------------- streaming

  /** Streaming twin: continuously ingest `.arrow`/`.arrows` shards
    * dropped into a directory (the shard-landing-zone shape). Schema
    * must be declared up front (Structured Streaming is fixed-schema);
    * files whose footer/stream schema drifts fail loudly. File vs
    * stream format dispatches on the leading magic. */
  def rowsStream(
      spark: SparkSession,
      dir: String,
      expected: StructType,
      globFilter: String = "*.arrow*"): DataFrame = {
    import org.apache.spark.sql.functions.col
    val binarySchema = StructType(Seq(
      StructField("path", StringType),
      StructField("modificationTime", TimestampType),
      StructField("length", LongType),
      StructField("content", BinaryType)))
    val outSchema = StructType(StructField("path", StringType) +: expected.fields)
    val outEnc = org.apache.spark.sql.Encoders.row(outSchema)
    val pairEnc = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.STRING, org.apache.spark.sql.Encoders.BINARY)
    spark.readStream
      .format("binaryFile")
      .schema(binarySchema)
      .option("pathGlobFilter", globFilter)
      .load(dir)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])](pairEnc)
      .flatMap { case (path, content) =>
        val isFile = content.length >= 8 && content.take(6).sameElements(Magic)
        val (as, batches) = if (isFile) readFileBytes(content) else readStreamBytes(content)
        val got = sparkSchema(as)
        req(got == expected, s"arrow stream: schema drift — $path has $got, stream declared $expected")
        batches.iterator.flatten.map(r => Row.fromSeq(path +: r.toSeq))
      }(outEnc)
      .toDF()
  }

  // ------------------------------------------------------------ oracle lane

  /** q_arrow: per (event_type, shard) bucket, the bucket's events
    * round-trip through a REAL Arrow file — built vector by vector with
    * arrow-java (the reference producer), split into multiple record
    * batches, then read back through the Spark face (footer, per-batch
    * ranged loads, cell readers; requires verify every row) — plus
    * require-only sub-lanes through our row writer and reader: a
    * ZSTD-compressed id column, a map column and a run-end-encoded
    * column over a 64-row prefix. Aggregates are closed-form so DuckDB
    * recomputes them independently.
    *
    * Scale shape: buckets are `event_id DIV 4096` — task count grows
    * with data (SF-invariant per-task work), the q_cdx/q_zip rule. */
  def arrowQuery(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import s.implicits._
    val cycle = udf { ids: Seq[Long] =>
      val sorted = ids.sorted.toArray
      val bytes = buildWithArrowJava(sorted)
      val (schema, batches) = readFileBytes(bytes)
      req(schema.getFields.asScala.map(_.getName) == Seq("id", "tag", "val", "flag"), "arrow lane: schema drift")
      var i = 0
      var chars = 0L
      var valSum = 0L
      batches.iterator.flatten.foreach { r =>
        val id = r.getLong(0)
        require(id == sorted(i), s"arrow lane: id drift at $i")
        val tag = r.getString(1)
        require(tag == s"t${id % 101}", s"arrow lane: tag drift for $id")
        val v = r.getDouble(2)
        require(v == (id % 7).toDouble, s"arrow lane: val drift for $id")
        require(r.getBoolean(3) == (id % 3 == 0), s"arrow lane: flag drift for $id")
        chars += tag.length
        valSum += (id % 7)
        i += 1
      }
      require(i == sorted.length, s"arrow lane: row count drift $i/${sorted.length}")
      if (sorted.nonEmpty) {
        val k = math.min(64, sorted.length)
        val prefix = sorted.take(k).toSeq
        def roundTrip(schema: Schema, value: Long => Any): Seq[Row] =
          readFileBytes(writeBytes(schema, Seq(prefix.map(x => Row(value(x)))), codec = "zstd"))._2.flatten
        // require-only compressed lane: our writer (ZSTD) -> our reader
        val back = roundTrip(arrowSchema(StructType(Seq(StructField("id", LongType, nullable = false)))), x => x)
        require(back.length == k, "arrow lane: compressed row drift")
        back.zip(prefix).foreach { case (r, x) => require(r.getLong(0) == x, "arrow lane: compressed value drift") }
        // require-only map lane: map<utf8,int64> of {"id"-><id>, "mod"-><id%97>}
        // round-trips our writer (ZSTD) -> our reader entry-for-entry
        val mapBack = roundTrip(arrowSchema(StructType(Seq(StructField("m", MapType(StringType, LongType), nullable = false)))),
          x => Map("id" -> x, "mod" -> x % 97))
        require(mapBack.length == k, "arrow lane: map row drift")
        mapBack.zip(prefix).foreach { case (r, x) =>
          require(r.getMap[String, Long](0) == Map("id" -> x, "mod" -> x % 97), "arrow lane: map entry drift")
        }
        // require-only REE lane: run-end-encoded (id DIV 16) — naturally
        // runny over the sorted bucket — round-trips writer (ZSTD) ->
        // reader with the runs expanded back element-for-element
        val reeLane = new Schema(java.util.List.of(new Field("r", FieldType.notNullable(ArrowType.RunEndEncoded.INSTANCE),
          java.util.List.of(Field.notNullable("run_ends", new ArrowType.Int(32, true)), Field.notNullable("values", new ArrowType.Int(64, true))))))
        val reeBack = roundTrip(reeLane, _ / 16)
        require(reeBack.length == k, "arrow lane: ree row drift")
        reeBack.zip(prefix).foreach { case (r, x) => require(r.getLong(0) == x / 16, "arrow lane: ree value drift") }
      }
      Seq(sorted.length.toLong, chars, valSum)
    }
    graft.Tables
      .eventsRaw(s, dir)
      .groupBy($"event_type", expr("event_id DIV 4096").as("shard"))
      .agg(collect_list($"event_id").as("ids"))
      .withColumn("c", cycle($"ids"))
      .groupBy($"event_type")
      .agg(
        sum($"c".getItem(0)).cast("long").as("n_rows"),
        sum($"c".getItem(1)).cast("long").as("tag_chars"),
        sum($"c".getItem(2)).cast("long").as("val_sum"))
      .orderBy($"event_type")
  }

  /** Build the lane file with arrow-java's vectors directly — the
    * reference producer — in 512-row record batches. */
  private[graft] def buildWithArrowJava(ids: Array[Long]): Array[Byte] = {
    val schema = new Schema(java.util.Arrays.asList(
      Field.notNullable("id", new ArrowType.Int(64, true)),
      Field.nullable("tag", ArrowType.Utf8.INSTANCE),
      Field.nullable("val", new ArrowType.FloatingPoint(FloatingPointPrecision.DOUBLE)),
      Field.nullable("flag", ArrowType.Bool.INSTANCE)))
    Using.resource(new RootAllocator()) { alloc =>
      Using.resource(VectorSchemaRoot.create(schema, alloc)) { root =>
        val bos = new java.io.ByteArrayOutputStream()
        val w = new ArrowFileWriter(root, null, java.nio.channels.Channels.newChannel(bos))
        w.start()
        val idV = root.getVector("id").asInstanceOf[BigIntVector]
        val tagV = root.getVector("tag").asInstanceOf[VarCharVector]
        val valV = root.getVector("val").asInstanceOf[Float8Vector]
        val flagV = root.getVector("flag").asInstanceOf[BitVector]
        (if (ids.isEmpty) Iterator(ids) else ids.grouped(512)).foreach { part =>
          root.allocateNew()
          part.indices.foreach { r =>
            val id = part(r)
            idV.setSafe(r, id)
            tagV.setSafe(r, s"t${id % 101}".getBytes(UTF_8))
            valV.setSafe(r, (id % 7).toDouble)
            flagV.setSafe(r, if (id % 3 == 0) 1 else 0)
          }
          root.setRowCount(part.length)
          w.writeBatch()
        }
        w.close()
        bos.toByteArray
      }
    }
  }
}
