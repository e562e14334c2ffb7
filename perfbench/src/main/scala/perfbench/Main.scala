package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, XXH64}
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution}

/** One benchmark run in one JVM, driven by run.py:
  *
  *  1. Set-up, timed from JVM start: start the Spark session, make one cold
  *     pass over the workload's items that writes every item's output as
  *     parquet for run.py's DuckDB check and keeps a digest of it, then
  *     `warmups` untimed passes.
  *  2. Timed part: whole passes over the items, one call at a time (closed
  *     loop, one client), until `seconds` have passed and at least
  *     `min-passes` passes are done. Each call's output is consumed in full
  *     (a hash over every column) and its digest must equal the checked one.
  *     In a traced run every other pass is traced.
  *  3. Writes `result.json` (and `trace.json` when traced) into `out`.
  *
  * usage: Main --workload W --data DIR --out DIR --scratch DIR --seconds S
  *   --trace 0|1 --cpus N --warmups K --min-passes P --rows R
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = a("workload")
    val (dataRoot, out, scratch) = (a("data"), a("out"), a("scratch"))
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val cpus = a("cpus").toInt
    val warmups = a("warmups").toInt
    val minPasses = a("min-passes").toInt
    val items = Workloads.items(workload, a("rows").toLong)
    new Main(items, cpus, dataRoot, out, scratch, traced).run(warmups, seconds, minPasses)
    if (workload != "core_scale")
      Files.writeString(Paths.get(s"$out/oracle_sql.json"),
        graft.Oracle.dumpJson(Workloads.catalogOracles(items.map(_.name))))
  }
}

private final class Main(
    items: Seq[Item], cpus: Int, dataRoot: String, out: String, scratch: String,
    traced: Boolean) {

  private val jvmStartNanos = System.nanoTime() -
    (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) * 1000000L
  private val streams = new StreamCounters
  private val counters = new SparkCounters
  private val tracer = new Tracer
  private var spark: SparkSession = _

  // per item: digest of the checked output, executions, failures, latencies
  private val digests = mutable.Map[String, (Long, Long)]()
  private val execs = mutable.Map[String, Int]().withDefaultValue(0)
  private val failed = mutable.Map[String, Int]().withDefaultValue(0)
  private val errors = mutable.Map[String, String]()
  private val latMs = mutable.Map[String, mutable.ArrayBuffer[Double]]()
  // per traced pass: the queries.* phase sums
  private var phaseSums = mutable.Map[String, Double]().withDefaultValue(0.0)

  private def session(): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .appName("perfbench")
    .config("spark.sql.extensions", "graft.plans.GraftExtensions")
    .config("spark.sql.shuffle.partitions", cpus.toLong)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.network.timeout", "3600s")
    .config("spark.executor.heartbeatInterval", "60s")
    .config("spark.local.dir", s"$scratch/local")
    .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
    .config("spark.sql.streaming.checkpointLocation", s"$scratch/ckpt")
    .config("spark.sql.streaming.checkpointFileManagerClass",
      classOf[graft.streaming.LocalNioCheckpointFileManager].getName)
    .getOrCreate()

  /** Row count and the wrapping sum of a 64-bit hash of every row: an
    * order-free digest. It runs `df`'s own executed plan and hashes each
    * output row outside it, so the optimizer sees no consumer that would let
    * it drop a column, a sort or a window. */
  private def digest(df: DataFrame): (Long, Long) = {
    val qe = df.queryExecution
    val schema = df.schema
    val parts = SQLExecution.withNewExecutionId(qe, Some("perfbench digest")) {
      qe.toRdd.mapPartitions { rows =>
        val unsafe = UnsafeProjection.create(schema)
        var n, h = 0L
        rows.foreach { r =>
          val u = unsafe(r)
          n += 1
          h += XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.getSizeInBytes, 42L)
        }
        Iterator((n, h))
      }.collect()
    }
    (parts.map(_._1).sum, parts.map(_._2).sum)
  }

  private def phaseMs(qe: QueryExecution, phase: String): Double =
    qe.tracker.phases.get(phase).map(_.durationMs.toDouble).getOrElse(0.0)

  /** Drop what a call left behind: cached relations and temp views
    * (memory-sink tables). Untimed. */
  private def cleanup(): Unit = {
    spark.catalog.clearCache()
    spark.catalog.listTables().collect().filter(_.isTemporary)
      .foreach(t => spark.catalog.dropTempView(t.name))
  }

  /** One call of `it`; `checkPath` set = the checked execution (write the
    * output for the oracle), else consume and compare to its digest.
    * Returns the call's latency in ms, None if it threw. */
  private def call(it: Item, ctx: Ctx, checkPath: Option[String]): Option[Double] = {
    spark.sparkContext.setLocalProperty(SparkCounters.ItemKey, it.name)
    execs(it.name) += 1
    try tracer.span(it.name) {
      val t0 = System.nanoTime()
      val df = tracer.span("construct")(it.run(ctx))
      val c1 = System.nanoTime()
      checkPath match {
        case Some(path) =>
          df.write.mode("overwrite").parquet(path)
          digests(it.name) = digest(spark.read.parquet(path))
        case None =>
          val d = tracer.span("action")(digest(df))
          val t1 = System.nanoTime()
          if (tracer.on) {
            val qe = df.queryExecution
            val parent = tracer.spans.last.id
            Seq("optimization" -> "optimize", "planning" -> "plan").foreach { case (ph, nm) =>
              qe.tracker.phases.get(ph).foreach(p => tracer.add(parent, nm,
                tracer.fromEpochMs(p.startTimeMs), tracer.fromEpochMs(p.endTimeMs)))
            }
            // analysis ran when the call built the frame, so it is part of
            // construct; optimization and planning run lazily in the action
            val Seq(an, opt, pl) =
              Seq("analysis", "optimization", "planning").map(phaseMs(qe, _))
            phaseSums("queries.construct_ms") += (c1 - t0) / 1e6
            phaseSums("queries.analyze_ms") += an
            phaseSums("queries.optimize_ms") += opt
            phaseSums("queries.plan_ms") += pl
            phaseSums("queries.execute_ms") += (t1 - c1) / 1e6 - opt - pl
          }
          if (!digests.get(it.name).contains(d)) {
            failed(it.name) += 1
            errors.getOrElseUpdate(it.name, "output differs from the checked output")
          }
      }
      val ms = (System.nanoTime() - t0) / 1e6
      System.err.println(f"[perfbench] ${it.name} ${ms}%.1f ms")
      Some(ms)
    } catch {
      case e: Throwable =>
        failed(it.name) += 1
        errors.getOrElseUpdate(it.name, (e.getClass.getName + ": " + e.getMessage).take(400))
        None
    } finally {
      cleanup()
      spark.sparkContext.setLocalProperty(SparkCounters.ItemKey, null)
    }
  }

  def run(warmups: Int, seconds: Double, minPasses: Int): Unit = {
    spark = session()
    spark.sparkContext.setLogLevel("ERROR")
    spark.streams.addListener(streams)
    val ctx = Ctx(spark, dataRoot, scratch)
    items.foreach(it => call(it, ctx, Some(s"$out/check/${it.name}")))
    (1 to warmups).foreach(_ => items.foreach(call(_, ctx, None)))
    val setupS = (System.nanoTime() - jvmStartNanos) / 1e9
    BusDrain(spark.sparkContext)
    streams.drain()

    val passes = mutable.ArrayBuffer[(Double, Boolean, Double)]() // wall s, traced, live heap MB
    val batchMs = mutable.ArrayBuffer[Double]()
    val firstBatchMs = mutable.ArrayBuffer[Double]()
    val layers = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    def put(k: String, v: Double): Unit = layers.getOrElseUpdate(k, mutable.ArrayBuffer()) += v
    val start = System.nanoTime()
    var p = 0
    while (p < minPasses || (System.nanoTime() - start) / 1e9 < seconds) {
      val tracedPass = traced && p % 2 == 1
      tracer.on = tracedPass
      phaseSums = mutable.Map[String, Double]().withDefaultValue(0.0)
      if (tracedPass) spark.sparkContext.addSparkListener(counters)
      val p0 = System.nanoTime()
      tracer.span("pass") {
        items.foreach { it =>
          call(it, ctx, None).foreach(ms => latMs.getOrElseUpdate(it.name, mutable.ArrayBuffer()) += ms)
        }
      }
      val wall = (System.nanoTime() - p0) / 1e9
      BusDrain(spark.sparkContext)
      val (batches, started) = streams.drain()
      batchMs ++= batches.map(_.durMs.getOrElse("triggerExecution", 0L).toDouble)
      val firstByQuery = batches.groupBy(_.queryId).map { case (q, bs) => q -> bs.minBy(_.startMs) }
      firstByQuery.foreach { case (q, b) =>
        started.get(q).foreach(s =>
          firstBatchMs += (b.startMs + b.durMs.getOrElse("triggerExecution", 0L) - s).toDouble)
      }
      if (tracedPass) {
        spark.sparkContext.removeSparkListener(counters)
        val byItem = counters.drain()
        phaseSums.foreach { case (k, v) => put(k, v) }
        counters.Fields.foreach(f => put(s"spark.$f", byItem.values.map(_.getOrElse(f, 0L)).sum.toDouble))
        put("spark.exec_util",
          byItem.values.map(_.getOrElse("task_ms", 0L)).sum / (wall * 1000 * cpus))
        items.foreach { it =>
          val m = byItem.getOrElse(it.name, Map.empty[String, Long])
          put(s"${it.name}.jobs", m.getOrElse("jobs", 0L).toDouble)
          put(s"${it.name}.shuffle_bytes", m.getOrElse("shuffle_write_bytes", 0L).toDouble)
        }
        // micro-batch spans hang under the construct span that ran them
        val trig = batches.map(_.durMs.getOrElse("triggerExecution", 0L)).sum.toDouble
        val hosts = batches.map { b =>
          val s = tracer.fromEpochMs(b.startMs)
          val host = tracer.enclosing("construct", s)
          tracer.add(host, "micro_batch", s, s + b.durMs.getOrElse("triggerExecution", 0L) * 1000000L)
          host
        }.toSet - -1
        val hostMs = tracer.spans.filter(s => hosts(s.id)).map(s => (s.end - s.start) / 1e6).sum
        def dur(k: String) = batches.map(_.durMs.getOrElse(k, 0L)).sum.toDouble
        val last = batches.groupBy(_.queryId).values.map(_.maxBy(_.startMs))
        put("streaming.queries", started.size.toDouble)
        put("streaming.batches", batches.size.toDouble)
        put("streaming.start_ms",
          firstByQuery.map { case (q, b) => started.get(q).map(b.startMs - _).getOrElse(0L) }.sum.toDouble)
        put("streaming.trigger_ms", trig)
        put("streaming.add_batch_ms", dur("addBatch"))
        put("streaming.query_planning_ms", dur("queryPlanning"))
        put("streaming.wal_commit_ms", dur("walCommit"))
        put("streaming.latest_offset_ms", dur("latestOffset"))
        put("streaming.get_batch_ms", dur("getBatch"))
        put("streaming.residual_ms", math.max(0.0, hostMs - trig))
        put("streaming.state_rows", last.map(_.stateRows).sum.toDouble)
        put("streaming.state_memory_bytes", last.map(_.stateMemBytes).sum.toDouble)
        put("streaming.state_commit_ms", batches.map(_.stateCommitMs).sum.toDouble)
        put("streaming.dropped_by_watermark", batches.map(_.droppedByWatermark).sum.toDouble)
      }
      tracer.on = false
      passes += ((wall, tracedPass, Heap.liveAfterGc() / 1048576.0))
      p += 1
    }
    spark.stop()
    writeResult(setupS, passes.toSeq, batchMs.toSeq, firstBatchMs.toSeq, layers)
    if (traced) writeTrace()
  }

  // ---- output -------------------------------------------------------------

  private def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  private def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")
  private def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  private def writeResult(
      setupS: Double, passes: Seq[(Double, Boolean, Double)],
      batchMs: Seq[Double], firstBatchMs: Seq[Double],
      layers: mutable.Map[String, mutable.ArrayBuffer[Double]]): Unit = {
    val itemJson = items.map { it =>
      it.name -> obj(Seq(
        "rows" -> it.inputRows.toString,
        "execs" -> execs(it.name).toString,
        "failed" -> failed(it.name).toString,
        "error" -> errors.get(it.name).map(str).getOrElse("null"),
        "lat_ms" -> arr(latMs.getOrElse(it.name, Nil))))
    }
    val json = obj(Seq(
      "setup_jvm_s" -> num(setupS),
      "pass_wall_s" -> arr(passes.map(_._1)),
      "pass_traced" -> passes.map(_._2.toString).mkString("[", ",", "]"),
      "pass_heap_mb" -> arr(passes.map(_._3)),
      "batch_ms" -> arr(batchMs),
      "first_batch_ms" -> arr(firstBatchMs),
      "layers" -> obj(layers.toSeq.sortBy(_._1).map { case (k, v) => k -> arr(v) }),
      "items" -> obj(itemJson)))
    Files.writeString(Paths.get(s"$out/result.json"), json)
  }

  private def writeTrace(): Unit = {
    val sb = new StringBuilder("[")
    tracer.spans.zipWithIndex.foreach { case (s, i) =>
      if (i > 0) sb.append(",\n")
      sb.append(obj(Seq("id" -> s.id.toString, "parent" -> s.parent.toString,
        "name" -> str(s.name), "start_ns" -> s.start.toString, "end_ns" -> s.end.toString)))
    }
    Files.writeString(Paths.get(s"$out/trace.json"), sb.append("]").toString)
  }
}
