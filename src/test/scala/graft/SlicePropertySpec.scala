package graft

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.core._
import graft.streaming.{CountBucket, CountSlices, GatedEvent, GatedWindows, KeyedEvent,
  TriggerSlices}

/** ScalaCheck-generated invariants for the window-id kernel (SURVEY §5
  * plan: "ScalaCheck for slice-alignment invariants"). Golden tests pin
  * exact values; these pin the structural laws on arbitrary inputs
  * (deterministic seeds — no scalatestplus bridge in the offline cache):
  *
  *  1. partition law — every slicing assigns each row exactly one window,
  *     and per-window sums re-add to the stream total;
  *  2. count law — Count(n) windows have exactly n rows except the last;
  *  3. alignment law — BEFORE/AFTER window ids differ ONLY on trigger rows
  *     (the trigger row opens the new bucket under BEFORE);
  *  4. batch/stream parity — the streaming slice fold's buckets equal the
  *     batch kernel's CLOSED buckets, on keyed streams with `ts` ties fed
  *     in micro-batches cut at cycle boundaries.
  */
class SlicePropertySpec extends SparkSpec {
  import spark.implicits._

  private val genValues: Gen[(List[Int], Int)] = for {
    n <- Gen.choose(1, 40)
    vs <- Gen.listOfN(n, Gen.choose(-5, 20))
    w <- Gen.choose(1, 7)
  } yield (vs, w)

  private def cases(count: Int): Seq[(List[Int], Int)] =
    (1 to count).flatMap(i => genValues(Gen.Parameters.default, Seed(i.toLong)))

  private def stream(vs: List[Int]) =
    vs.zipWithIndex.map { case (v, i) => (i.toLong, i.toLong, v) }.toDF("ts", "seq", "v")

  test("composition law: Count(a) then Count(b) over the emissions " +
    "equals Count(a*b) directly (layered slicing, random streams)") {
    cases(6).foreach { case (vs, w) =>
      val a = math.max(1, w / 2)
      val b = 2
      val l1 = EStream(stream(vs))
        .group(Slice.Count(a))
        .reduce("s1" -> sum(col("v")),
          "ts" -> max(col("ts")), "seq" -> max(col("seq")))
      val nested = EStream(l1.select("ts", "seq", "s1"))
        .group(Slice.Count(b))
        .reduce("s" -> sum(col("s1")), "o" -> min(col("seq")))
        .orderBy("o").select("s").as[Long].collect().toSeq
      val direct = EStream(stream(vs))
        .group(Slice.Count(a * b))
        .reduce("s" -> sum(col("v")), "o" -> min(col("seq")))
        .orderBy("o").select("s").as[Long].collect().toSeq
      // trailing partials line up too: ceil(n/a) emissions grouped by b
      // cover exactly the a*b-row direct buckets
      withClue(s"vs=$vs a=$a b=$b") { nested shouldBe direct }
    }
  }

  test("hopping laws: step=width degenerates to Tumbling; general " +
    "hopping covers each row exactly floorDiv(ts,step)-floorDiv(ts-width,step) times") {
    cases(6).foreach { case (vs, w0) =>
      val w = math.max(1, w0).toLong
      // degeneracy: Hopping(w, w) ≡ Tumbling(w), ids included
      val hop = EStream(stream(vs)).group(Slice.Hopping(w, w))
        .reduce("s" -> sum(col("v")))
        .orderBy("window_id").as[(Long, Long)].collect().toSeq
      val tum = EStream(stream(vs)).group(Slice.Tumbling(w))
        .reduce("s" -> sum(col("v")))
        .orderBy("window_id").as[(Long, Long)].collect().toSeq
      hop shouldBe tum
      // coverage multiplicity: total replicated rows == Σ per-row count
      val width = 2 * w + 1 // non-divisible by step on purpose
      val rows = EStream(stream(vs)).group(Slice.Hopping(width, w))
        .reduce("n" -> count(lit(1)))
        .agg(sum(col("n"))).as[Long].head()
      val expect = vs.indices.map { i =>
        Math.floorDiv(i.toLong, w) - Math.floorDiv(i.toLong - width, w)
      }.sum
      rows shouldBe expect
    }
  }

  test("partition law: per-window sums re-add to the total for every slice spec") {
    cases(6).foreach { case (vs, n) =>
      val specs: Seq[Slice] = Seq(
        Slice.Count(n), Slice.Tumbling(n.toLong),
        Slice.TriggerCol(col("v") % 3 === 0, Align.After),
        Slice.TriggerCol(col("v") % 3 === 0, Align.Before),
        Slice.Termination)
      specs.foreach { spec =>
        val buckets = EStream(stream(vs)).group(spec)
          .reduce("s" -> sum(col("v")), "n" -> count(lit(1)))
        withClue(s"spec=$spec vs=$vs: ") {
          buckets.agg(sum("s"), sum("n")).as[(Long, Long)].collect().head shouldBe
            ((vs.map(_.toLong).sum, vs.size.toLong))
        }
      }
    }
  }

  test("count law: Count(n) buckets are full except possibly the last") {
    cases(6).foreach { case (vs, n) =>
      val sizes = EStream(stream(vs)).group(Slice.Count(n))
        .reduce("n" -> count(lit(1)))
        .orderBy("window_id").select("n").as[Long].collect().toSeq
      withClue(s"n=$n vs=$vs: ") {
        sizes.init.foreach(_ shouldBe n.toLong)
        sizes.last should be <= n.toLong
        sizes.sum shouldBe vs.size.toLong
      }
    }
  }

  test("gate law: boolean-window per-session sums equal a sequential " +
    "simulation (random gates, close excludes its datum)") {
    cases(8).foreach { case (vs, _) =>
      // gate from the value stream itself: open when v is even
      val got = WindowKernel
        .withSessions(stream(vs), Nil, col("v") % 2 === 0)
        .filter(col("in_window"))
        .groupBy("session_id")
        .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
        .as[(Long, Long, Long)].collect()
        .map(t => t._1 -> ((t._2, t._3))).toMap

      var prev = false
      var sid = 0L
      val acc = collection.mutable.Map[Long, (Long, Long)]()
      vs.foreach { v =>
        val g = v % 2 == 0
        if (g && !prev) sid += 1
        if (g) {
          val (s, n) = acc.getOrElse(sid, (0L, 0L))
          acc(sid) = (s + v, n + 1)
        }
        prev = g
      }
      withClue(s"vs=$vs: ") { got shouldBe acc.toMap }
    }
  }

  test("alignment law: BEFORE and AFTER ids agree except on trigger rows") {
    cases(6).foreach { case (vs, _) =>
      val trig = col("v") % 3 === 0
      def ids(a: Align) = WindowKernel
        .withWindowId(stream(vs), Nil, Slice.TriggerCol(trig, a))
        .orderBy("seq")
        .select(col("v"), col(WindowKernel.WindowId)).as[(Int, Long)].collect()
      ids(Align.After).zip(ids(Align.Before)).foreach { case ((v, ia), (_, ib)) =>
        withClue(s"v=$v vs=$vs: ") {
          if (v % 3 == 0) ib shouldBe ia + 1
          else ib shouldBe ia
        }
      }
    }
  }

  // ---- 4. batch/stream parity --------------------------------------------

  /** One bucket as (key, id, n, sum, min, max). */
  private type B = (String, Long, Long, Double, Double, Double)

  /** Rows sharing one ts form one cycle; AFTER must keep the cycle in the
    * closing bucket and BEFORE must open the new bucket with all of it. */
  private val tieExample: Seq[GatedEvent] = Seq(
    GatedEvent("a", 5, 1, 1.0, gate = true), GatedEvent("a", 5, 2, 2.0, gate = false),
    GatedEvent("a", 7, 3, 3.0, gate = false), GatedEvent("a", 7, 4, 4.0, gate = true),
    GatedEvent("a", 9, 5, 5.0, gate = true), GatedEvent("a", 9, 6, 6.0, gate = true))

  /** Three keys over twelve timestamps: most rows share their (key, ts). */
  private def tiedStream(seed: Long): Seq[GatedEvent] = {
    val r = new scala.util.Random(seed)
    (0 until 30 + r.nextInt(30)).map { i =>
      GatedEvent("k" + r.nextInt(3), r.nextInt(12).toLong, i.toLong,
        r.nextInt(20).toDouble, r.nextInt(3) == 0)
    }.sortBy(e => (e.ts, e.seq))
  }

  private val parityCases: Seq[Seq[GatedEvent]] = tieExample +: (1L to 5L).map(tiedStream)

  /** 1–3 micro-batches, cut only where `ts` changes. */
  private def cycleBatches(es: Seq[GatedEvent], seed: Long): Seq[Seq[GatedEvent]] = {
    val r = new scala.util.Random(seed)
    val cuts = r.shuffle((1 until es.length).filter(i => es(i).ts != es(i - 1).ts))
      .take(r.nextInt(3)).sorted
    (0 +: cuts :+ es.length).sliding(2).map { case Seq(a, b) => es.slice(a, b) }.toSeq
  }

  private def streamed(batches: Seq[Seq[GatedEvent]],
      fold: Dataset[GatedEvent] => Dataset[CountBucket]): Set[B] = {
    val mem = MemoryStream[GatedEvent](spark)
    val name = "slice_parity_" + System.nanoTime()
    val q = fold(mem.toDS()).writeStream.queryName(name).format("memory")
      .outputMode("append").start()
    try batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    finally q.stop()
    spark.table(name).as[CountBucket].collect()
      .map(b => (b.k, b.windowId, b.n, b.sum, b.mn, b.mx)).toSet
  }

  /** Batch buckets from rows annotated (key, id, v, gate), keeping those
    * `closed` says are closed given all rows of their key. */
  private def batchBuckets(rows: Seq[(String, Long, Double, Boolean)])(
      closed: (Seq[(String, Long, Double, Boolean)], Seq[(String, Long, Double, Boolean)]) => Boolean): Set[B] =
    rows.groupBy(_._1).toSeq.flatMap { case (k, keyRows) =>
      keyRows.groupBy(_._2).toSeq.collect {
        case (id, bucket) if closed(bucket, keyRows) =>
          val vs = bucket.map(_._3)
          (k, id, vs.size.toLong, vs.sum, vs.min, vs.max)
      }
    }.toSet

  private def windowIds(es: Seq[GatedEvent], slice: Slice) =
    WindowKernel.withWindowId(es.toDF(), Seq("k"), slice)
      .select(col("k"), col(WindowKernel.WindowId), col("v"), col("gate"))
      .as[(String, Long, Double, Boolean)].collect().toSeq

  private def parity(label: String)(fold: Dataset[GatedEvent] => Dataset[CountBucket],
      batch: Seq[GatedEvent] => Set[B]): Unit =
    test(s"batch/stream parity: $label — the stream fold's buckets equal the " +
      "batch kernel's closed buckets (ts ties, 1-3 micro-batches cut at cycles)") {
      parityCases.zipWithIndex.foreach { case (es, i) =>
        val batches = cycleBatches(es, i.toLong)
        withClue(s"case $i, batch sizes ${batches.map(_.size)}, events $es: ") {
          streamed(batches, fold) shouldBe batch(es)
        }
      }
    }

  parity("Count(3)")(
    ds => CountSlices(ds.map(e => KeyedEvent(e.k, e.ts, e.seq, e.v)), 3),
    es => batchBuckets(windowIds(es, Slice.Count(3)))((b, _) => b.size == 3))

  parity("TriggerCol AFTER")(
    ds => TriggerSlices.tagged(ds),
    es => batchBuckets(windowIds(es, Slice.TriggerCol(col("gate"), Align.After)))(
      (b, _) => b.exists(_._4)))

  parity("TriggerCol BEFORE")(
    ds => TriggerSlices.tagged(ds, before = true),
    es => batchBuckets(windowIds(es, Slice.TriggerCol(col("gate"), Align.Before)))(
      (b, key) => b.head._2 < key.map(_._2).max))

  parity("withSessions gate")(
    ds => GatedWindows(ds),
    es => {
      val rows = WindowKernel.withSessions(es.toDF(), Seq("k"), col("gate"))
        .select(col("k"), col("session_id"), col("v"), col("in_window"))
        .as[(String, Long, Double, Boolean)].collect().toSeq
      // a session is closed once a gate=false row carries its id
      batchBuckets(rows.filter(_._4))((b, _) =>
        rows.exists(r => r._1 == b.head._1 && r._2 == b.head._2 && !r._4))
    })
}
