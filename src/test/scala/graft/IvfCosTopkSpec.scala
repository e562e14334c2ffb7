package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.IvfCosTopk

/** Bit-parity pin for [[IvfCosTopk]] (r16): the typed IVF cosine top-k
  * must reproduce the previous Column formulations of knn_ivf (raw
  * seeds), knn_ivf_trained (one Lloyd step) and knn_ivf_append (index
  * built from the even half) EXACTLY, including the double cosines, and
  * be partition-count independent. The reference below is those
  * formulations verbatim.
  */
class IvfCosTopkSpec extends SparkSpec {

  private val K = 8
  private val DIM = 8

  private def corpus(parts: Int): DataFrame = {
    val s = spark
    import s.implicits._
    graft.plans.DotD.register(s)
    val rows = (0 until 60).map { i =>
      val base = if (i >= 56) i - 8 else i // exact duplicates for ties
      val v = Seq.tabulate(DIM)(j =>
        (((base * 131 + j * 37) % 101) - 50) / 100.0)
      (i.toLong, v)
    }
    s.createDataset(rows).repartition(parts).toDF("vec_id", "v0")
      .select(col("vec_id"), transform(col("v0"), _.cast("double")).as("v"))
      .withColumn("n2", call_function("dotd", col("v"), col("v")))
  }

  private def dotc(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
    call_function("dotd", a, b)

  private def ivfAssign(src: DataFrame, cents: DataFrame): DataFrame =
    src.join(broadcast(cents), lit(true))
      .withColumn("ccos",
        dotc(col("cv"), col("v")) / (sqrt(col("cn2")) * sqrt(col("n2"))))
      .groupBy("vec_id")
      .agg(max_by(struct(col("v"), col("n2"), col("c_id")),
        struct(col("ccos"), -col("c_id"))).as("b"))
      .select(col("vec_id"), col("b.v").as("v"), col("b.n2").as("n2"),
        col("b.c_id").as("cell"))

  private def lloyd1Cents(base: DataFrame, k: Int): DataFrame = {
    val cents0 = base.filter(col("vec_id") < 2 * k)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("n2").as("cn2"))
    ivfAssign(base, cents0)
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg((sum(floor(col("x") * 1000000000L)).cast("double") /
        (count(lit(1)) * 1000000000L).cast("double")).as("m"))
      .groupBy("cell")
      .agg(transform(
        sort_array(collect_list(struct(col("pos"), col("m")))),
        p => p.getField("m")).as("cv"))
      .select(col("cell").as("c_id"), col("cv"),
        call_function("dotd", col("cv"), col("cv")).as("cn2"))
  }

  /** One Lloyd step from the first-K seeds (knn_ivf_trained's cents1). */
  private def lloydFromSeeds(e: DataFrame, k: Int): DataFrame = {
    val cents0 = e.filter(col("vec_id") < k)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("n2").as("cn2"))
    ivfAssign(e, cents0)
      .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy("cell", "pos")
      .agg((sum(floor(col("x") * 1000000000L)).cast("double") /
        (count(lit(1)) * 1000000000L).cast("double")).as("m"))
      .groupBy("cell")
      .agg(transform(
        sort_array(collect_list(struct(col("pos"), col("m")))),
        p => p.getField("m")).as("cv"))
      .select(col("cell").as("c_id"), col("cv"),
        call_function("dotd", col("cv"), col("cv")).as("cn2"))
  }

  private def cosTopk(all: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val q = all.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("v").as("qv"),
        col("n2").as("qn2"), col("cell").as("qcell"))
    all.join(broadcast(q),
      col("cell") === col("qcell") && col("vec_id") =!= col("q_id"))
      .withColumn("cos",
        dotc(col("qv"), col("v")) / (sqrt(col("qn2")) * sqrt(col("n2"))))
      .withColumn("rk", row_number().over(
        w.partitionBy("q_id").orderBy(col("cos").desc, col("vec_id"))))
      .filter(col("rk") <= 5)
      .select("q_id", "rk", "vec_id", "cos")
      .orderBy("q_id", "rk")
  }

  private def refIvf(e0: DataFrame): DataFrame = {
    val e = e0.persist()
    val cents = e.filter(col("vec_id") < K)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("n2").as("cn2"))
    cosTopk(ivfAssign(e, cents))
  }

  private def refTrained(e0: DataFrame): DataFrame = {
    val e = e0.persist()
    cosTopk(ivfAssign(e, lloydFromSeeds(e, K)))
  }

  private def refAppend(e0: DataFrame): DataFrame = {
    val e = e0.persist()
    val base = e.filter(col("vec_id") % 2 === 0)
    val incoming = e.filter(col("vec_id") % 2 === 1)
    val cents1 = lloyd1Cents(base, K)
    cosTopk(ivfAssign(base, cents1).unionByName(ivfAssign(incoming, cents1)))
  }

  private def rowsOf(df: DataFrame): Seq[(Long, Int, Long, Double)] =
    df.collect().toSeq.map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))

  test("knn_ivf shape: typed ≡ Column (bit parity incl. double cosines)") {
    val ref = rowsOf(refIvf(corpus(3)))
    val got = rowsOf(IvfCosTopk.topk(corpus(3), K, 3, 5, lloyd = false))
    spark.catalog.clearCache()
    got shouldBe ref
    ref.nonEmpty shouldBe true
  }

  test("knn_ivf_trained shape: typed ≡ Column") {
    val ref = rowsOf(refTrained(corpus(3)))
    val got = rowsOf(IvfCosTopk.topk(corpus(3), K, 3, 5, lloyd = true))
    spark.catalog.clearCache()
    got shouldBe ref
    ref.nonEmpty shouldBe true
  }

  test("knn_ivf_append shape: typed ≡ Column") {
    val ref = rowsOf(refAppend(corpus(3)))
    val got = rowsOf(IvfCosTopk.topk(corpus(3), K, 3, 5,
      lloyd = true, evenBase = true))
    spark.catalog.clearCache()
    got shouldBe ref
    ref.nonEmpty shouldBe true
  }

  test("partition-count independence") {
    val a = rowsOf(IvfCosTopk.topk(corpus(1), K, 3, 5, lloyd = true, evenBase = true))
    val b = rowsOf(IvfCosTopk.topk(corpus(7), K, 3, 5, lloyd = true, evenBase = true))
    spark.catalog.clearCache()
    a shouldBe b
    a.nonEmpty shouldBe true
  }

  test("empty embedding frame: no seeds gives an empty result, not an AIOOBE") {
    // an empty frame, and a corpus with no seed ids (vec_id < k)
    for (e <- Seq(corpus(3).limit(0), corpus(3).filter(col("vec_id") >= K))) {
      val got = IvfCosTopk.topk(e, K, 3, 5, lloyd = true)
      got.columns.toSeq shouldBe Seq("q_id", "rk", "vec_id", "cos")
      rowsOf(got) shouldBe empty
      spark.catalog.clearCache()
    }
  }
}
