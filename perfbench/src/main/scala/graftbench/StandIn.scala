package graftbench

import java.util.concurrent.atomic.AtomicLong

import graft.sources.api._
import org.apache.spark.sql.types.StructType

/** Time the stand-in connector spent waiting in place of API round trips.
  * Local mode runs executors inside this JVM, so the main thread reads
  * what the scan tasks added. */
object StandIn {
  val apiWaitNs = new AtomicLong
}

/** A benchmark-registered plugin whose `numbers` table delegates every call
  * to `NumbersTable` and sleeps a fixed time per fetched page, in place of
  * the API round trip a real connector pays. Cache hits and parallel
  * splits therefore show up as time saved. */
final case class StandInPlugin(delayMs: Long) extends Plugin {
  override def name: String = "bench"
  override def tables: Seq[ApiTable] = Seq(StandInNumbers(delayMs))
}

final case class StandInNumbers(delayMs: Long) extends ApiTable {
  private def base: ApiTable = NumbersTable

  private def roundTrip(): Unit = {
    val t0 = System.nanoTime()
    Thread.sleep(delayMs)
    StandIn.apiWaitNs.addAndGet(System.nanoTime() - t0)
    ()
  }

  override def name: String = base.name
  override def schema: StructType = base.schema
  override def schemaFor(config: PluginConfig): StructType = base.schemaFor(config)
  override def keyColumns: Seq[KeyColumn] = base.keyColumns
  override def splits(qc: QueryContext, config: PluginConfig): Seq[ApiSplit] =
    base.splits(qc, config)
  override def estimatedRows(qc: QueryContext, config: PluginConfig): Option[Long] =
    base.estimatedRows(qc, config)
  override def exactlyHandled(q: Qual): Boolean = base.exactlyHandled(q)
  override def supportsOrderedPage(qc: QueryContext, config: PluginConfig): Boolean =
    base.supportsOrderedPage(qc, config)
  override def aggregateSplit(split: ApiSplit, qc: QueryContext, config: PluginConfig,
      aggs: Seq[AggSpec]): Option[Array[Any]] = {
    roundTrip()
    base.aggregateSplit(split, qc, config, aggs)
  }
  override def scan(split: ApiSplit, qc: QueryContext, config: PluginConfig): Iterator[Array[Any]] = {
    roundTrip()
    base.scan(split, qc, config)
  }
}
