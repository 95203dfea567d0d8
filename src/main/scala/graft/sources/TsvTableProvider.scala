package graft.sources

import java.util

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.sources.{DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 connector for the reference's `id\ttitle\ttext` corpus
  * files: `spark.read.format("graft-tsv").load(path)`.
  *
  * This is the Spark-native analog of the reference's Cassandra
  * *connector* (SURVEY §1.4): where [[TsvCorpus.read]] wraps the text
  * datasource in Column expressions, this is the real connector surface —
  * a `TableProvider` whose scan:
  *
  *   - splits per file (one [[InputPartition]] each — line formats can't
  *     split safely below file granularity without sync markers);
  *   - prunes columns at the READER (`SupportsPushDownRequiredColumns`):
  *     a `select(doc_id)` never materializes the text bytes into rows —
  *     visible as the scan's narrowed `ReadSchema`;
  *   - drops malformed lines at the source (the mapper guard,
  *     `mapreduce/mapper1.py:6-11`).
  *
  * Read-only by design: writes go through [[TsvCorpus.write]] (the
  * built-in text sink is already the right distributed writer).
  */
class TsvTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-tsv"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    TsvTableProvider.Schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new TsvTable(properties.asScala.getOrElse("path",
      throw new IllegalArgumentException("graft-tsv requires a path")))
}

object TsvTableProvider {
  val Schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("title", StringType),
    StructField("text", StringType)))
}

class TsvTable(path: String) extends Table with SupportsRead with SupportsWrite {
  override def name(): String = s"graft-tsv:$path"
  override def schema(): StructType = TsvTableProvider.Schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new TsvScanBuilder(path)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new TsvWriteBuilder(path, info.schema())
}

/** Serializable carrier for the driver's Hadoop configuration: DSv2
  * factories are serialized to executors, but `Configuration` is Writable,
  * not Serializable — without this, executor-side readers/writers would
  * fall back to `new Configuration()` and silently drop any non-default
  * filesystem settings (S3/HDFS credentials, endpoints). */
class SerializableHadoopConf(@transient var value: org.apache.hadoop.conf.Configuration)
    extends Serializable {
  private def writeObject(out: java.io.ObjectOutputStream): Unit = {
    out.defaultWriteObject()
    value.write(out)
  }
  private def readObject(in: java.io.ObjectInputStream): Unit = {
    in.defaultReadObject()
    value = new org.apache.hadoop.conf.Configuration(false)
    value.readFields(in)
  }
}

/** Write side: each task streams its rows into a STAGING file (dot-prefixed,
  * so [[TsvScan]] never lists it as data) and renames it to its final part
  * name only in task `commit()` — a killed/crashed/speculative attempt whose
  * `abort()` never runs leaves at most an ignored staging file, never a
  * partial file a later read would treat as committed data. Spark's commit
  * coordinator ensures a single attempt per partition commits. Tabs and
  * newlines inside fields are squashed to spaces, like [[TsvCorpus.write]] —
  * `prepare_data.py:33`. Overwrite maps to TRUNCATE (driver clears the
  * directory before tasks launch). */
class TsvWriteBuilder(path: String, schema: StructType)
    extends WriteBuilder with SupportsTruncate {
  private var doTruncate = false
  override def truncate(): WriteBuilder = { doTruncate = true; this }
  override def build(): Write = new TsvWrite(path, schema, doTruncate)
}

class TsvWrite(path: String, schema: StructType, doTruncate: Boolean)
    extends Write with BatchWrite {
  // writers address fields by position — resolve the incoming schema's
  // layout once on the driver
  private val idx = Seq("doc_id", "title", "text").map { n =>
    val i = schema.fieldNames.indexOf(n)
    require(i >= 0, s"graft-tsv write requires column $n, got ${schema.fieldNames.mkString(",")}")
    i
  }

  override def toBatch: BatchWrite = this

  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    val conf = org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    if (doTruncate && fs.exists(p)) fs.delete(p, true)
    fs.mkdirs(p)
    new TsvWriterFactory(path, idx(0), idx(1), idx(2), new SerializableHadoopConf(conf))
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

class TsvWriterFactory(path: String, idIdx: Int, titleIdx: Int, textIdx: Int,
                       conf: SerializableHadoopConf)
    extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new TsvDataWriter(s"$path/part-$partitionId-$taskId.tsv", idIdx, titleIdx, textIdx, conf)
}

class TsvDataWriter(file: String, idIdx: Int, titleIdx: Int, textIdx: Int,
                    conf: SerializableHadoopConf)
    extends DataWriter[InternalRow] {
  private val finalPath = new Path(file)
  // dot-prefixed staging name in the same directory: TsvScan skips it, and
  // a same-directory rename is atomic on HDFS/local
  private val stagingPath = new Path(finalPath.getParent,
    s".${finalPath.getName}.inprogress")
  private val fs = finalPath.getFileSystem(conf.value)
  private val out = new java.io.BufferedWriter(
    new java.io.OutputStreamWriter(fs.create(stagingPath, true),
      java.nio.charset.StandardCharsets.UTF_8))
  private def squash(s: String): String = s.replaceAll("[\\t\\n]", " ")

  override def write(row: InternalRow): Unit = {
    if (!row.isNullAt(idIdx)) {
      val title = if (row.isNullAt(titleIdx)) "" else row.getUTF8String(titleIdx).toString
      val text  = if (row.isNullAt(textIdx)) "" else row.getUTF8String(textIdx).toString
      out.write(s"${row.getLong(idIdx)}\t${squash(title)}\t${squash(text)}\n")
    }
  }
  override def commit(): WriterCommitMessage = {
    out.close()
    if (!fs.rename(stagingPath, finalPath))
      throw new java.io.IOException(s"graft-tsv: failed to commit $stagingPath -> $finalPath")
    TsvCommit
  }
  override def abort(): Unit = {
    out.close()
    fs.delete(stagingPath, false)
  }
  override def close(): Unit = ()
}

case object TsvCommit extends WriterCommitMessage

class TsvScanBuilder(path: String)
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  private var required: StructType = TsvTableProvider.Schema
  private var pushed: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  // doc_id comparisons evaluate during the parse — a predicate like
  // doc_id < N skips the row before its text is ever wrapped in a row
  // (the Cassandra-connector predicate pushdown shape, SURVEY §1.4).
  // Supported filters are fully evaluated here, so they are NOT returned
  // as residuals (no re-evaluation above the scan).
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val (sup, rest) = filters.partition(TsvScanBuilder.supported)
    pushed = sup
    rest
  }
  override def pushedFilters(): Array[Filter] = pushed

  override def build(): Scan = new TsvScan(path, required, pushed)
}

object TsvScanBuilder {
  private def longValue(v: Any): Boolean = v.isInstanceOf[Long] || v.isInstanceOf[Int]
  def supported(f: Filter): Boolean = f match {
    case EqualTo("doc_id", v)            => longValue(v)
    case GreaterThan("doc_id", v)        => longValue(v)
    case GreaterThanOrEqual("doc_id", v) => longValue(v)
    case LessThan("doc_id", v)           => longValue(v)
    case LessThanOrEqual("doc_id", v)    => longValue(v)
    case _ => false
  }
  def eval(f: Filter, id: Long): Boolean = {
    def l(v: Any): Long = v match {
      case x: Long => x
      case x: Int  => x.toLong
    }
    f match {
      case EqualTo(_, v)            => id == l(v)
      case GreaterThan(_, v)        => id > l(v)
      case GreaterThanOrEqual(_, v) => id >= l(v)
      case LessThan(_, v)           => id < l(v)
      case LessThanOrEqual(_, v)    => id <= l(v)
      case _ => true
    }
  }
}

class TsvScan(path: String, required: StructType,
              pushed: Array[Filter] = Array.empty) extends Scan with Batch {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-tsv pushed=[${pushed.mkString(", ")}]"

  override def planInputPartitions(): Array[InputPartition] = {
    val conf = org.apache.spark.sql.SparkSession.active
      .sparkContext.hadoopConfiguration
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    val files = ArrayBuffer.empty[String]
    val it = fs.listFiles(p, true)
    while (it.hasNext) {
      val f = it.next()
      if (f.isFile && graft.FsOps.visible(f.getPath.getName))
        files += f.getPath.toString
    }
    files.sorted.map(TsvInputPartition(_): InputPartition).toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new TsvReaderFactory(required, pushed, new SerializableHadoopConf(
      org.apache.spark.sql.SparkSession.active.sparkContext.hadoopConfiguration))
}

case class TsvInputPartition(file: String) extends InputPartition

class TsvReaderFactory(required: StructType, pushed: Array[Filter],
                       conf: SerializableHadoopConf)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new TsvPartitionReader(partition.asInstanceOf[TsvInputPartition].file,
      required, pushed, conf)
}

class TsvPartitionReader(file: String, required: StructType,
                         pushed: Array[Filter],
                         conf: SerializableHadoopConf)
    extends PartitionReader[InternalRow] {

  private val reader = {
    val p = new Path(file)
    val fs = FileSystem.get(p.toUri, conf.value)
    new java.io.BufferedReader(
      new java.io.InputStreamReader(fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
  }
  private var current: InternalRow = _

  override def next(): Boolean = {
    var line = reader.readLine()
    while (line != null) {
      val parts = line.split("\t", -1)
      // overflow guard: an all-digit id beyond Long range would make
      // toLong throw and fail the whole scan — parse via toLongOption so
      // such a line drops like any other malformed line. 19-digit ids up
      // to Long.MaxValue (which this connector's own writer can produce)
      // still parse.
      val idOpt =
        if (parts.length == 3 && parts(0).nonEmpty && parts(0).length <= 19 &&
            parts(0).forall(_.isDigit)) parts(0).toLongOption
        else None
      if (idOpt.exists(id => pushed.forall(TsvScanBuilder.eval(_, id)))) {
        val values = required.fieldNames.map {
          case "doc_id" => java.lang.Long.valueOf(parts(0).toLong)
          case "title"  => UTF8String.fromString(parts(1))
          case "text"   => UTF8String.fromString(parts(2))
        }
        current = InternalRow.fromSeq(values.toIndexedSeq)
        return true
      }
      line = reader.readLine()
    }
    false
  }

  override def get(): InternalRow = current
  override def close(): Unit = reader.close()
}
