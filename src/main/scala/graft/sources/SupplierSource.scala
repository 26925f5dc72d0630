package graft.sources

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets
import java.util
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.util.{Failure, Success, Try}

/** Driver-side registry binding supplier ids to pull closures — the
  * DSv2 analogue of handing a `Supplier[T]` to the constructor
  * (`batch_processor.go:16-18,43-47`). Closures live on the driver
  * only; fetched rows are shipped to executors inside the planned
  * input partitions.
  */
object SupplierRegistry {
  private val suppliers = TrieMap.empty[String, () => Try[Seq[String]]]
  def register(id: String, s: () => Try[Seq[String]]): Unit = suppliers.put(id, s)
  def unregister(id: String): Unit = suppliers.remove(id)
  private[sources] def get(id: String): () => Try[Seq[String]] =
    suppliers.getOrElse(id, throw new IllegalArgumentException(s"invalid supplier: $id"))
}

/** A pull-`Supplier`-backed Structured Streaming source (DataSource
  * V2 `MicroBatchStream`) — the reference's ingestion primitive as a
  * first-class Spark source, completing the mapping in SURVEY.md §2.1
  * row 2.
  *
  * Semantics preserved from the reference's dispatcher loop:
  *  - the supplier is polled serially ON THE DRIVER (`latestOffset`),
  *    exactly like `FetchNextBatch` on the dispatcher thread
  *    (`batch_processor.go:126`); downstream processing of the batch
  *    is distributed
  *  - each trigger runs one sweep: up to `defaultParallelism` fetches,
  *    the task-slot analogue of the dispatcher's `available =
  *    maxWorkers - current` (`batch_processor.go:115-145`, SURVEY.md
  *    §2.1 row 12), and never more than [[SupplierSource.MaxSweep]].
  *    Each fetched batch becomes its own input
  *    partition, so a sweep's batches run as parallel map tasks under
  *    one micro-batch: one plan, one state-store version and one
  *    offset/commit log entry per sweep, not per batch
  *  - a supplier error skips that fetch — the offset does not advance,
  *    no retry, the sweep continues; it counts toward the sweep's
  *    bound (`batch_processor.go:127-130`)
  *  - an empty fetch ends the sweep without advancing the offset, so
  *    a trigger over a drained source idles — the
  *    `noBatchSleepInterval` backoff (`:131-136`) is the trigger
  *    interval
  *  - committed batches are evicted from the driver buffer (`commit`),
  *    so the driver holds at most one sweep of uncommitted batches
  *
  * Under `Trigger.AvailableNow` the query delivers one sweep and stops,
  * on a fresh or a restarted checkpoint.
  *
  * Usage:
  * {{{
  *   SupplierRegistry.register("mysrc", () => Try(nextRows()))
  *   spark.readStream.format("graft.sources.SupplierSource")
  *     .option("supplierId", "mysrc").load()   // schema: value STRING
  * }}}
  */
class SupplierSource extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SupplierSource.schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new SupplierTable(properties.get("supplierId"))
}

object SupplierSource {
  val schema: StructType = StructType(Seq(StructField("value", StringType)))

  /** The most supplier calls one trigger makes on any session. Every
    * batch of a sweep rides in the task binary of the stage that reads
    * it, so each map task deserializes the whole sweep and a trigger's
    * deserialize work grows with the square of the sweep: 15–16, 41–43
    * and 135–163 ms of map-task time per trigger for sweeps of 4, 8 and
    * 16 batches of 5000 rows (DEPLOY.md §6h). A larger sweep needs the
    * rows out of the task binary first.
    */
  val MaxSweep = 4
}

private class SupplierTable(supplierId: String) extends Table with SupportsRead {
  require(supplierId != null, "option supplierId is required")
  override def name(): String = s"supplier($supplierId)"
  override def schema(): StructType = SupplierSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): Scan = new SupplierScan(supplierId)
    }
}

private class SupplierScan(supplierId: String) extends Scan {
  override def readSchema(): StructType = SupplierSource.schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new SupplierMicroBatchStream(supplierId, SparkSession.active.sparkContext.defaultParallelism)
}

/** Offset = count of batches fetched so far. */
private case class CounterOffset(n: Long) extends Offset {
  override def json(): String = n.toString
}

/** A `SupportsAdmissionControl` stream (through
  * `SupportsTriggerAvailableNow`), so Spark calls `latestOffset(start,
  * limit)` with the start offset; after a restart that is the
  * recovered offset, and the fetch counter resumes past it. Spark
  * calls a plain `MicroBatchStream.latestOffset()` before it
  * deserializes the recovered offset, so a restarted counter would
  * begin at 0 and its first batches would land at or below the
  * committed offset, never planned. Under `Trigger.AvailableNow` the
  * first sweep's end is the query's end offset.
  *
  * @param slots the session's task slots (`defaultParallelism`); one
  *              `latestOffset` makes at most this many supplier calls,
  *              and never more than [[SupplierSource.MaxSweep]]
  */
private[graft] class SupplierMicroBatchStream(supplierId: String, slots: Int)
    extends MicroBatchStream with SupportsTriggerAvailableNow {
  private val supplier = SupplierRegistry.get(supplierId)
  private val sweep = math.min(slots, SupplierSource.MaxSweep)
  // batch index -> rows, buffered on the driver until committed
  private val buffered = mutable.LinkedHashMap.empty[Long, Seq[String]]
  private var fetched = 0L
  // Trigger.AvailableNow: the first sweep's end, then every call's
  private var availableNow = false
  private var availableNowEnd: Option[Offset] = None

  override def initialOffset(): Offset = CounterOffset(0L)

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException("SupplierSource: call latestOffset(start, limit)")

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def prepareForTriggerAvailableNow(): Unit = synchronized { availableNow = true }

  /** One sweep: up to `sweep` supplier calls, ended by the first empty
    * fetch; the offset counts the batches buffered so far.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = synchronized {
    availableNowEnd.getOrElse {
      fetched = math.max(fetched, start.asInstanceOf[CounterOffset].n)
      var calls = 0
      var drained = false
      while (!drained && calls < sweep) {
        calls += 1
        supplier() match {
          case Success(batch) if batch != null && batch.nonEmpty =>
            buffered.put(fetched, batch)
            fetched += 1
          case Success(_) => drained = true // empty: sweep ends; no batch, trigger idles (:131-136)
          case Failure(_) => () // supplier error: skip, no retry (:127-130)
        }
      }
      val end = CounterOffset(fetched)
      if (availableNow) availableNowEnd = Some(end)
      end
    }
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] =
    synchronized {
      val s = start.asInstanceOf[CounterOffset].n
      val e = end.asInstanceOf[CounterOffset].n
      (s until e).flatMap(buffered.get).map(SupplierPartition(_): InputPartition).toArray
    }

  override def createReaderFactory(): PartitionReaderFactory = SupplierReaderFactory

  /** Called on recovery with offsets from the checkpoint log. The
    * supplier is a non-replayable pull source (like the reference's,
    * which drops unprocessed batches on shutdown —
    * `batch_processor.go:137-140`), so batches fetched before a crash
    * but not committed — at most one sweep — are lost: at-most-once
    * across restarts. The fetch counter resumes past the recovered
    * offset in `latestOffset`.
    */
  override def deserializeOffset(json: String): Offset = CounterOffset(json.toLong)

  override def commit(end: Offset): Unit = synchronized {
    val upTo = end.asInstanceOf[CounterOffset].n
    buffered.keys.filter(_ < upTo).toSeq.foreach(buffered.remove)
  }

  override def stop(): Unit = ()
}

/** Rows travel inside the partition descriptor (driver → executor),
  * encoded once as one UTF-8 buffer: row `i` ends at `ends(i)`, or at
  * `~ends(i)` (negative) if it is null, and starts where row `i - 1`
  * ends. Spark copies the partition into the task and into the task
  * binaries of the stages whose closures hold the scan's plan; each
  * copy is a bulk byte copy, and the reader decodes nothing.
  */
private[graft] final class SupplierPartition(utf8: Array[Byte], ends: Array[Int])
    extends InputPartition {
  def size: Int = ends.length
  private def end(i: Int): Int = if (i < 0) 0 else { val e = ends(i); if (e < 0) ~e else e }
  /** Row `i` as a view into the buffer, or null. */
  def row(i: Int): UTF8String =
    if (ends(i) < 0) null
    else { val start = end(i - 1); UTF8String.fromBytes(utf8, start, ends(i) - start) }
}

private[graft] object SupplierPartition {
  def apply(rows: Seq[String]): SupplierPartition = {
    val utf8 = new ByteArrayOutputStream()
    val ends = rows.map { r =>
      if (r == null) ~utf8.size
      else { utf8.writeBytes(r.getBytes(StandardCharsets.UTF_8)); utf8.size }
    }.toArray
    new SupplierPartition(utf8.toByteArray, ends)
  }
}

private object SupplierReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val rows = partition.asInstanceOf[SupplierPartition]
    new PartitionReader[InternalRow] {
      private var i = -1
      override def next(): Boolean = { i += 1; i < rows.size }
      override def get(): InternalRow = InternalRow(rows.row(i))
      override def close(): Unit = ()
    }
  }
}
