package graft.sources

import java.util

import graft.model.Schemas
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.graftbridge.JsonLineParser
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import scala.jdk.CollectionConverters._

/** SURVEY §2 A1 — the provider inbox as a first-class DataSource V2
  * `TableProvider` (the "faithful shape" SURVEY's A1 row names): a
  * directory of provider-exported message-JSON batch files becomes a
  * Spark table with the canonical raw schema, one input partition per
  * batch file, REAL column pruning — the scan parses each JSON line
  * directly against the PRUNED schema (Jackson skips unrequested
  * subtrees), so `SELECT id FROM inbox` never materializes the nested
  * MIME payload tree — and filter pushdown for the point-lookup shapes
  * (EqualTo/In/IsNotNull on top-level atomic columns), evaluated with a
  * two-phase parse so non-matching lines never pay the payload parse.
  *
  * Usage:
  * {{{ spark.read.format("graft-inbox").load(inboxDir)          // full
  *     spark.read.format("graft-inbox").load(dir).select("id")  // pruned }}}
  *
  * Scope (mirrors the environment contract): batch files only — the live
  * paginated Gmail API source is environment-excluded (no OAuth); its
  * pagination becomes the file boundary here, exactly as
  * `ingest.Normalize.readRaw` assumes. This provider is a batch scan
  * only; it has no streaming read.
  *
  * Reference: message listing + fetch
  * `src/providers/gmail/provider.py:89-164`; the canonical nested
  * payload this parses is `provider.py:227-284`'s input.
  */
class InboxSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graft-inbox"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    Schemas.rawMessageSchema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new InboxTable(schema, properties.asScala.toMap)

  override def supportsExternalMetadata(): Boolean = true
}

final class InboxTable(schema: StructType, properties: Map[String, String])
    extends Table with SupportsRead {
  override def name(): String =
    s"graft-inbox(${properties.getOrElse("path", "?")})"
  override def schema(): StructType = schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new InboxScanBuilder(schema,
      options.asScala.toMap ++ properties)
}

/** Column pruning + filter pushdown.
  *
  * Pruning: the engine hands us the required top-level columns and we
  * parse ONLY those — nested pruning below the top level is left to
  * Jackson's subtree skipping.
  *
  * Filters: simple predicates on top-level atomic columns (EqualTo /
  * IsNotNull / In — the B1/B2 point-lookup shapes) are accepted and
  * evaluated INSIDE the source with a two-phase parse: each line is first
  * parsed against the tiny filter-column schema (Jackson skips the whole
  * payload subtree), and only matching lines pay the full required-schema
  * parse. A point lookup over a payload-heavy inbox therefore parses the
  * MIME tree for exactly the matching messages. Every accepted filter is
  * also returned to Spark as a post-scan filter, so the source-side
  * evaluation is a pure row reduction — never a correctness dependency. */
final class InboxScanBuilder(fullSchema: StructType, options: Map[String, String])
    extends ScanBuilder with SupportsPushDownRequiredColumns
    with SupportsPushDownFilters {
  import org.apache.spark.sql.sources._
  private var required: StructType = fullSchema
  private var pushedV: Array[Filter] = Array.empty

  override def pruneColumns(requiredSchema: StructType): Unit = {
    // preserve declared field order/types from the full schema
    val keep = requiredSchema.fieldNames.toSet
    val pruned = StructType(fullSchema.fields.filter(f => keep(f.name)))
    required = if (pruned.isEmpty) StructType(Seq(fullSchema.fields.head)) else pruned
  }

  private def atomicTopLevel(name: String): Boolean =
    fullSchema.fields.exists(f => f.name == name && (f.dataType match {
      case _: org.apache.spark.sql.types.StringType => true
      case _: org.apache.spark.sql.types.LongType   => true
      case _: org.apache.spark.sql.types.IntegerType => true
      case _ => false
    }))

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushedV = filters.filter {
      case EqualTo(a, _)  => atomicTopLevel(a)
      case IsNotNull(a)   => atomicTopLevel(a)
      case In(a, _)       => atomicTopLevel(a)
      case _              => false
    }
    // hand every filter back for post-scan re-evaluation (see scaladoc)
    filters
  }

  override def pushedFilters(): Array[Filter] = pushedV

  override def build(): Scan = new InboxScan(required, options, pushedV, fullSchema)
}

final class InboxScan(readSchemaV: StructType, options: Map[String, String],
    pushed: Array[org.apache.spark.sql.sources.Filter], fullSchema: StructType)
    extends Scan with Batch {
  override def readSchema(): StructType = readSchemaV
  override def toBatch: Batch = this
  override def description(): String =
    s"graft-inbox scan, parsed columns: ${readSchemaV.fieldNames.mkString(",")}" +
      (if (pushed.isEmpty) "" else s", pushed filters: ${pushed.mkString(", ")}")

  // Session Hadoop conf, captured driver-side at scan construction and
  // shipped to readers via SerializableConfiguration — a bare
  // `new Configuration()` would drop every spark.hadoop.* setting
  // (S3/GCS credentials, custom defaultFS), exactly as the built-in file
  // sources avoid. Scan-level read options (spark.read.option(...)) are
  // layered on top, matching per-read override semantics.
  private val hadoopConf = {
    val c = org.apache.spark.sql.SparkSession.active.sessionState.newHadoopConf()
    options.foreach { case (k, v) => c.set(k, v) }
    new org.apache.spark.util.SerializableConfiguration(c)
  }

  override def planInputPartitions(): Array[InputPartition] = {
    val path = options.getOrElse("path",
      throw new IllegalArgumentException("graft-inbox requires a path"))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(hadoopConf.value)
    val p = new org.apache.hadoop.fs.Path(path)
    val files: Array[String] =
      if (!fs.exists(p)) Array.empty
      else if (fs.getFileStatus(p).isFile) Array(p.toString)
      else fs.listStatus(p).filter(_.isFile).map(_.getPath.toString).sorted
    // one partition per batch file: the provider's page boundary is the
    // parallelism unit, same as the JSON file source's split behavior for
    // line-delimited files
    files.map(f => InboxFilePartition(f): InputPartition)
  }

  // Filter-column schema for the cheap first-phase parse, in full-schema
  // field order (empty when nothing was pushed).
  private val keySchema: StructType = {
    val names = pushed.flatMap(_.references).toSet
    StructType(fullSchema.fields.filter(f => names.contains(f.name)))
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new InboxReaderFactory(readSchemaV,
      options.getOrElse("timeZone", "UTC"), hadoopConf, pushed, keySchema)
}

final case class InboxFilePartition(path: String) extends InputPartition

final class InboxReaderFactory(schema: StructType, tz: String,
    hadoopConf: org.apache.spark.util.SerializableConfiguration,
    pushed: Array[org.apache.spark.sql.sources.Filter],
    keySchema: StructType)
    extends PartitionReaderFactory {

  /** Evaluate one pushed filter against a first-phase (key-schema) row.
    * NULL field ⇒ false for EqualTo/In, matching SQL comparison
    * semantics; a corrupt line parses to an all-null permissive row and
    * is therefore skipped here exactly as Spark's post-scan Filter would
    * drop it. */
  private def eval(f: org.apache.spark.sql.sources.Filter, row: InternalRow): Boolean = {
    import org.apache.spark.sql.sources._
    def idx(a: String): Int = keySchema.fieldIndex(a)
    // A null literal can reach here (Spark translates e.g.
    // col("x").isin(1L, null) into In(x, [1, null])); SQL comparison
    // semantics make NULL = v unknown ⇒ non-matching, never an NPE.
    def matches(i: Int, v: Any): Boolean = if (v == null) false
    else keySchema(i).dataType match {
      case _: org.apache.spark.sql.types.StringType =>
        row.getUTF8String(i).toString == String.valueOf(v)
      case _: org.apache.spark.sql.types.LongType =>
        row.getLong(i) == v.asInstanceOf[Number].longValue()
      case _: org.apache.spark.sql.types.IntegerType =>
        row.getInt(i) == v.asInstanceOf[Number].intValue()
      case _ => false
    }
    f match {
      case IsNotNull(a)  => !row.isNullAt(idx(a))
      case EqualTo(a, v) => val i = idx(a); !row.isNullAt(i) && matches(i, v)
      case In(a, vs)     => val i = idx(a); !row.isNullAt(i) && vs.exists(matches(i, _))
      case _             => true // unreachable: builder only accepts the above
    }
  }

  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val file = partition.asInstanceOf[InboxFilePartition].path
    new PartitionReader[InternalRow] {
      private val parser = new JsonLineParser(schema, tz)
      // First-phase parser over just the filter columns — Jackson skips
      // every other subtree (the payload MIME tree in particular), so a
      // non-matching line costs a shallow scan, not a full parse. When the
      // key schema equals the required schema the first-phase row is
      // already the answer and the second parse is skipped.
      private val filtered = pushed.nonEmpty && keySchema.nonEmpty
      private val keyParser =
        if (filtered) new JsonLineParser(keySchema, tz) else null
      private val keyIsFull = filtered && keySchema == schema
      private val stream = {
        val p = new org.apache.hadoop.fs.Path(file)
        p.getFileSystem(hadoopConf.value).open(p)
      }
      private val lines = scala.io.Source.fromInputStream(stream, "UTF-8")
        .getLines()
      private var current: Iterator[InternalRow] = Iterator.empty

      private def parse(line: String): Iterator[InternalRow] =
        if (!filtered) parser.parse(line)
        else {
          val keyRows = keyParser.parse(line)
          if (keyIsFull) keyRows.filter(r => pushed.forall(eval(_, r)))
          else if (keyRows.exists(r => pushed.forall(eval(_, r)))) parser.parse(line)
          else Iterator.empty
        }

      override def next(): Boolean = {
        while (!current.hasNext && lines.hasNext) {
          val line = lines.next()
          if (line.trim.nonEmpty) current = parse(line)
        }
        current.hasNext
      }
      override def get(): InternalRow = current.next()
      override def close(): Unit = stream.close()
    }
  }
}
