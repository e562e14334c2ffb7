package perfbench

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.SparkEntry
import graft.core._
import graft.functions.Reducers
import graft.streaming.{CountSlices, KeyedEvent}

/** What one call needs: the session, the input directory of this set-up
  * and a scratch directory. */
final case class Ctx(spark: SparkSession, dir: String, scratch: String)

/** One closed-loop call. `run` builds the output frame (for a streaming
  * call it also runs the stream); the driver then consumes every column. */
final case class Item(name: String, inputRows: Long, run: Ctx => DataFrame)

object Workloads {

  /** The catalog queries of ev_batch. A run has about a minute on 4 cores,
    * set-up included, so the list takes one query per core layer rather
    * than the whole `ev_*` family: the keyed reduce that is scespet's
    * flagship expression, a slice scan, an as-of take, bound buckets, and
    * a skew operator. */
  val EvBatch = Seq("ev_by_reduce", "ev_slice_scan", "ev_asof_take", "ev_bind_bucket_cycle",
    "ev_salted_type_agg")

  def items(workload: String, rows: Long): Seq[Item] = workload match {
    case "ev_batch"   => catalog(EvBatch, rows)
    case "core_scale" => core(rows)
    case other        => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** Oracle SQL for the catalog workloads, by query name. */
  def catalogOracles(names: Seq[String]): Map[String, String] =
    SparkEntry.oracleSql.filter { case (n, _) => names.contains(n) }

  private def catalog(names: Seq[String], rows: Long): Seq[Item] = {
    val qs = SparkEntry.queries
    names.map { n =>
      val fn = qs(n)
      Item(n, rows, c => fn(c.spark, c.dir))
    }
  }

  // ---- core_scale: per-row kernels, and a stateful processor fed four micro-batches

  private val Keys = Seq("user_id")

  private def ev(c: Ctx): DataFrame = Tables.events(c.spark, c.dir)

  private def core(rows: Long): Seq[Item] = Seq(
    Item("core.window.count", rows, c =>
      WindowKernel.withWindowId(ev(c).select("user_id", "ts", "seq"), Keys, Slice.Count(10))
        .select("user_id", "seq", WindowKernel.WindowId)),
    Item("core.asof.take", rows, c =>
      AsOf.take(
        ev(c).filter(col("event_type") =!= "purchase")
          .select(col("user_id"), col("ts"), col("seq"), col("value").as("v")),
        ev(c).filter(col("event_type") === "purchase"), Seq(col("user_id")),
        Seq(col("user_id")), Seq("last_purchase" -> col("value")))),
    Item("functions.ewma", rows, c =>
      KStream(ev(c), Keys).group(Slice.Tumbling(24 * 3600L * 1000000L))
        .reduce("ewma" -> Reducers.ewma(col("ts"), col("seq"), col("value"), 0.25))),
    Item("streaming.call.count_slices", rows, c =>
      c.spark.table(runStream(c, CountSlices(keyedSource(c), 10).toDF())))
  )

  /** The core input as a keyed file stream, one file (= one micro-batch)
    * per trigger, with the library's µs `ts` and `seq`. */
  private def keyedSource(c: Ctx): Dataset[KeyedEvent] = {
    val path = s"${c.dir}/events.parquet"
    val schema = Tables.cachedSchema(c.spark, path)
    c.spark.readStream.schema(schema).option("maxFilesPerTrigger", "1").parquet(path)
      .select(col("user_id").cast("string").as("k"), Tables.tsUsExpr(schema).as("ts"),
        col("event_id").as("seq"), col("value").as("v"))
      .as[KeyedEvent](Encoders.product[KeyedEvent])
  }

  private val streamIds = new java.util.concurrent.atomic.AtomicLong()

  /** Run `df` to completion into a memory sink; returns the table name. */
  private def runStream(c: Ctx, df: DataFrame): String = {
    val name = s"perfbench_stream_${streamIds.incrementAndGet()}"
    val q = df.writeStream.queryName(name).format("memory").outputMode("append")
      .option("checkpointLocation", s"${c.scratch}/ckpt/$name")
      .trigger(Trigger.AvailableNow())
      .start()
    try q.awaitTermination() finally q.stop()
    q.exception.foreach(e => throw e)
    name
  }
}
