package opbench

import java.util

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.{Transform => Partitioning}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** The Spark workloads' sink: it drops every row, as Spark's `noop` sink
  * does, and notes when each task commits and how many rows it wrote. In
  * `local` mode tasks run in the benchmark's own JVM, so a commit's
  * `nanoTime` compares with the batch's start time: a record's latency runs
  * from the start of its batch to the commit of the task that wrote it. */
final class CommitSink extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = new StructType()
  override def getTable(schema: StructType, partitioning: Array[Partitioning],
                        properties: util.Map[String, String]): Table = CommitSink.SinkTable
}

object CommitSink {
  private val commits = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()

  /** Hands each task commit since the last drain to `f(nanoTime, rows)`. */
  def drain(f: (Long, Long) => Unit): Unit = {
    var c = commits.poll()
    while (c != null) { f(c._1, c._2); c = commits.poll() }
  }

  private object SinkTable extends Table with SupportsWrite {
    override def name(): String = "opbench_commit_sink"
    override def schema(): StructType = new StructType()
    override def capabilities(): util.Set[TableCapability] = Set(TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.ACCEPT_ANY_SCHEMA).asJava
    override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = new WriteBuilder with SupportsTruncate {
      override def truncate(): WriteBuilder = this
      override def build(): Write = new Write {
        override def toBatch: BatchWrite = Batch
      }
    }
  }

  private object Batch extends BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = WriterFactory
    override def useCommitCoordinator(): Boolean = false
    override def commit(messages: Array[WriterCommitMessage]): Unit = ()
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  private object WriterFactory extends DataWriterFactory {
    override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] = new DataWriter[InternalRow] {
      private var rows = 0L
      override def write(record: InternalRow): Unit = rows += 1
      override def commit(): WriterCommitMessage = { commits.add((System.nanoTime(), rows)); null }
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
  }
}
