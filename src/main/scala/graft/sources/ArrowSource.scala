package graft.sources

import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 face for Arrow IPC files:
  * `spark.read.format("arrowipc").load(path...)` and
  * `df.write.format("arrowipc").save(dir)`.
  *
  * Spark-first shape: schema comes from the file FOOTER (tail-only
  * driver reads), one InputPartition per record-batch block (the
  * format's own parallelism unit — a 10k-batch shard fans out to 10k
  * independently fetchable tasks), and COLUMN PRUNING is pushed below
  * the decoder ([[ArrowIpc.IpcFile.rows]]): a pruned column's buffers
  * never reach arrow-java's loader, so on compressed files its
  * LZ4/ZSTD work is skipped entirely, which ArrowSourceSpec proves by
  * poisoning a pruned column's compressed buffer and reading
  * successfully around it.
  *
  * Writes are shard-per-partition (`part-NNNNN.arrow`, the
  * HuggingFace-datasets shard shape), streamed in 4096-row record
  * batches through arrow-java's file writer and task-committed via
  * tmp-rename so failed attempts never surface; `option("codec",
  * "zstd"|"lz4")` compresses bodies through arrow-compression;
  * SaveMode.Overwrite maps to SupportsTruncate.
  *
  * Scope: the FILE format (`.arrow`, Feather v2). Streams (`.arrows`)
  * have no index and stay on [[ArrowIpc.readStreamBytes]]. Spark
  * instantiates every registered source on each `format(...)` lookup,
  * so this class names no arrow-java type: arrow-java loads only when
  * an Arrow table is actually read or written.
  */
final class ArrowSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "arrowipc"

  private def paths(options: CaseInsensitiveStringMap): Seq[String] = {
    val raw =
      if (options.containsKey("paths")) graft.core.MiniJson
        .arr(graft.core.MiniJson.parse(options.get("paths")))
        .map(graft.core.MiniJson.str)
      else Option(options.get("path")).toSeq
    val expanded = raw.flatMap { p =>
      val f = new java.io.File(p)
      if (f.isDirectory)
        f.listFiles().toSeq
          .filter(c => c.isFile && c.getName.endsWith(".arrow"))
          .map(_.getPath)
          .sorted
      else Seq(p)
    }
    require(expanded.nonEmpty, "arrowipc: no input paths")
    expanded
  }

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    ArrowIpc.open(paths(options).head)(_.face)

  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val opts = new CaseInsensitiveStringMap(properties)
    // reads expand paths eagerly; writes target a (possibly not yet
    // existing) directory, so keep the raw path for the write side
    val rawPath = Option(opts.get("path"))
    val expanded = try paths(opts)
    catch { case _: IllegalArgumentException if rawPath.isDefined => Seq.empty }
    new ArrowTable(expanded, rawPath, schema, Option(opts.get("codec")).getOrElse("none"))
  }

  override def supportsExternalMetadata(): Boolean = true
}

private final class ArrowTable(
    paths: Seq[String],
    rawPath: Option[String],
    tableSchema: StructType,
    writeCodec: String)
    extends Table
    with SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  ArrowIpc.codecOf(writeCodec) // an unknown codec refuses at plan time
  override def name(): String = {
    val p = paths.headOption.orElse(rawPath).getOrElse("?")
    s"arrowipc($p${if (paths.length > 1) s" +${paths.length - 1}" else ""})"
  }
  override def schema(): StructType = tableSchema
  override def capabilities(): java.util.Set[TableCapability] =
    java.util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE, TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    require(paths.nonEmpty, "arrowipc: no input files to read")
    new ArrowScanBuilder(paths, tableSchema)
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo): org.apache.spark.sql.connector.write.WriteBuilder = {
    val dir = rawPath.getOrElse(
      throw new IllegalArgumentException("arrowipc: write needs a single directory path"))
    new ArrowWriteBuilder(dir, info.schema(), writeCodec)
  }
}

private final class ArrowScanBuilder(paths: Seq[String], full: StructType)
    extends ScanBuilder
    with SupportsPushDownRequiredColumns {
  private var required: StructType = full
  override def pruneColumns(requiredSchema: StructType): Unit = required = requiredSchema
  override def build(): Scan = new ArrowScan(paths, required)
}

private final case class ArrowBatchPartition(path: String, batchIdx: Int) extends InputPartition

private final class ArrowScan(paths: Seq[String], required: StructType) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"arrowipc ${paths.length} file(s), columns [${required.fieldNames.mkString(",")}]"

  override def planInputPartitions(): Array[InputPartition] =
    paths.flatMap { p =>
      // driver cost: one footer (tail) read per file — never batch data
      (0 until ArrowIpc.open(p)(_.batches)).map(i => ArrowBatchPartition(p, i))
    }.toArray

  override def createReaderFactory(): PartitionReaderFactory =
    new ArrowReaderFactory(required)
}

private final class ArrowReaderFactory(required: StructType) extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[ArrowBatchPartition]
    new ArrowPartitionReader(p.path, p.batchIdx, required)
  }
}

private final class ArrowPartitionReader(path: String, batchIdx: Int, required: StructType)
    extends PartitionReader[InternalRow] {

  private val rows: Iterator[InternalRow] = ArrowIpc.open(path) { f =>
    val names = f.face.fieldNames
    val wanted = names.indices.filter(i => required.fieldNames.contains(names(i)))
    require(wanted.length == required.length, s"arrowipc: schema drift in $path")
    // rows come back in schema order; the scan hands them out in required order
    val order = required.fieldNames.map(n => wanted.indexWhere(names(_) == n))
    val toCatalyst = org.apache.spark.sql.catalyst.CatalystTypeConverters.createToCatalystConverter(required)
    f.rows(batchIdx, wanted).iterator.map(r => toCatalyst(Row.fromSeq(order.map(r.get))).asInstanceOf[InternalRow])
  }

  private var current: InternalRow = _
  override def next(): Boolean = { if (rows.hasNext) { current = rows.next(); true } else false }
  override def get(): InternalRow = current
  override def close(): Unit = ()
}

// --------------------------------------------------------------- write side

private final class ArrowWriteBuilder(dir: String, schema: StructType, codec: String)
    extends org.apache.spark.sql.connector.write.WriteBuilder
    with org.apache.spark.sql.connector.write.SupportsTruncate {
  private var doTruncate = false
  override def truncate(): org.apache.spark.sql.connector.write.WriteBuilder = { doTruncate = true; this }
  override def build(): org.apache.spark.sql.connector.write.Write = {
    val t = doTruncate
    new org.apache.spark.sql.connector.write.Write {
      // validate the schema at plan time
      ArrowIpc.arrowSchema(schema)
      override def toBatch: org.apache.spark.sql.connector.write.BatchWrite =
        new ArrowBatchWrite(dir, schema, codec, t)
    }
  }
}

private final case class ArrowCommitMessage(tmp: String, dst: String)
    extends org.apache.spark.sql.connector.write.WriterCommitMessage

private final class ArrowBatchWrite(dir: String, schema: StructType, codec: String, truncate: Boolean)
    extends org.apache.spark.sql.connector.write.BatchWrite {
  override def createBatchWriterFactory(
      info: org.apache.spark.sql.connector.write.PhysicalWriteInfo): org.apache.spark.sql.connector.write.DataWriterFactory = {
    val d = new java.io.File(dir)
    if (!d.exists()) require(d.mkdirs(), s"arrowipc: cannot create $dir")
    if (truncate)
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(f => f.getName.endsWith(".arrow") || f.getName.endsWith(".tmp"))
        .foreach(_.delete())
    new ArrowWriterFactory(dir, schema, codec)
  }
  override def commit(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    messages.foreach { m =>
      val c = m.asInstanceOf[ArrowCommitMessage]
      val ok = new java.io.File(c.tmp).renameTo(new java.io.File(c.dst))
      require(ok, s"arrowipc: commit rename ${c.tmp} -> ${c.dst} failed")
    }
  override def abort(messages: Array[org.apache.spark.sql.connector.write.WriterCommitMessage]): Unit =
    messages.foreach {
      case ArrowCommitMessage(tmp, _) => new java.io.File(tmp).delete()
      case _ => ()
    }
}

private final class ArrowWriterFactory(dir: String, schema: StructType, codec: String)
    extends org.apache.spark.sql.connector.write.DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): org.apache.spark.sql.connector.write.DataWriter[InternalRow] =
    new ArrowDataWriter(dir, schema, codec, partitionId, taskId)
}

/** Streams the partition's rows into `part-NNNNN.arrow.tmp` in
  * 4096-row record batches and hands the rename to the driver-side
  * commit (task-attempt isolation: the tmp name carries the task id,
  * so a zombie attempt never clobbers the committed file). */
private final class ArrowDataWriter(dir: String, schema: StructType, codec: String, partitionId: Int, taskId: Long)
    extends org.apache.spark.sql.connector.write.DataWriter[InternalRow] {

  private val toScala = org.apache.spark.sql.catalyst.CatalystTypeConverters
    .createToScalaConverter(schema)
  private val dst = f"$dir/part-$partitionId%05d.arrow"
  private val tmp = s"$dst.$taskId.tmp"
  private val out = {
    import java.nio.file.StandardOpenOption._
    new ArrowIpc.Writer(java.nio.channels.FileChannel.open(java.nio.file.Paths.get(tmp), CREATE, WRITE, TRUNCATE_EXISTING),
      ArrowIpc.arrowSchema(schema), codec, file = true)
  }
  private val pending = scala.collection.mutable.ArrayBuffer.empty[Row]

  override def write(record: InternalRow): Unit = {
    pending += toScala(record).asInstanceOf[Row]
    if (pending.length == 4096) flush()
  }

  private def flush(): Unit = { out.batch(pending.toSeq); pending.clear() }

  override def commit(): org.apache.spark.sql.connector.write.WriterCommitMessage = {
    if (pending.nonEmpty) flush()
    out.close()
    ArrowCommitMessage(tmp, dst)
  }

  override def abort(): Unit = { out.close(); new java.io.File(tmp).delete() }
  override def close(): Unit = out.close()
}
