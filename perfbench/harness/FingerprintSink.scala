package perfbench

import java.util
import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** A `noop`-style sink that also fingerprints what it consumes.
  *
  * It plans and executes exactly like `df.write.format("noop")` (a V2
  * batch write that discards rows), but each writer hashes every row
  * through an `UnsafeProjection` of the input schema, so two results
  * with the same multiset of rows and the same column types get the same
  * fingerprint whatever the row order or partitioning. This lets every
  * timed pass be checked without executing the query a second time.
  *
  * Usage: `df.write.format(classOf[FingerprintSink].getName)
  *   .mode("overwrite").option("key", k).save()`, then `FingerprintSink.take(k)`.
  */
class FingerprintSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = FingerprintTable
}

object FingerprintSink {
  private val results = new ConcurrentHashMap[String, String]()

  /** The fingerprint committed under `key`, removed from the registry. */
  def take(key: String): Option[String] = Option(results.remove(key))

  private[perfbench] def put(key: String, fp: String): Unit = results.put(key, fp)

  /** Column names and types, without nullability: a parquet round trip
    * may relax nullability but must keep the types. */
  def schemaTag(schema: StructType): String =
    schema.fields.map(f => s"${f.name}:${f.dataType.catalogString}").mkString(",")
}

private object FingerprintTable extends Table with SupportsWrite {
  override def name(): String = "perfbench-fingerprint"
  override def schema(): StructType = new StructType()
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.BATCH_WRITE, TableCapability.TRUNCATE,
    TableCapability.ACCEPT_ANY_SCHEMA)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new FingerprintWriteBuilder(info.schema(), info.options().get("key"))
}

private class FingerprintWriteBuilder(schema: StructType, key: String)
    extends WriteBuilder with SupportsTruncate {
  override def truncate(): WriteBuilder = this
  override def build(): Write = new Write {
    override def toBatch: BatchWrite = new FingerprintBatchWrite(schema, key)
  }
}

/** Per-partition digest: row count plus two order-independent sums of
  * 64-bit row hashes under different seeds. */
private case class Digest(rows: Long, a: Long, b: Long) extends WriterCommitMessage

private class FingerprintBatchWrite(schema: StructType, key: String) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
    new FingerprintWriterFactory(schema)
  override def commit(messages: Array[WriterCommitMessage]): Unit = {
    val ds = messages.collect { case d: Digest => d }
    val fp = f"${ds.map(_.rows).sum}%d:${ds.map(_.a).sum}%016x${ds.map(_.b).sum}%016x:" +
      f"${FingerprintSink.schemaTag(schema).hashCode}%08x"
    if (key != null) FingerprintSink.put(key, fp)
  }
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

private class FingerprintWriterFactory(schema: StructType) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val proj = UnsafeProjection.create(schema)
      private var rows, a, b = 0L
      override def write(row: InternalRow): Unit = {
        val u = proj(row)
        a += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        b += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 0x9e3779b9L)
        rows += 1
      }
      override def commit(): WriterCommitMessage = Digest(rows, a, b)
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}
