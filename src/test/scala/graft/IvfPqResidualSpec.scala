package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.IvfPqResidual

/** Bit-parity pin for [[IvfPqResidual]] (r16, the BPE-encoder pattern):
  * the typed-JVM residual IVF-PQ pipeline must reproduce the previous
  * Column/DataFrame formulation of knn_ivfpq_residual EXACTLY — same
  * rows, same integer ADC scores, same ranks — and be partition-count
  * independent. The reference below IS that formulation, verbatim
  * (dimension-parameterized), as shipped through round 15 and
  * hash-matched against the DuckDB oracle every round.
  */
class IvfPqResidualSpec extends SparkSpec {

  private val M = 4
  private val SUB = 2
  private val DIM = M * SUB
  private val K = 8
  private val NPROBE = 2

  /** Deterministic pseudo-random corpus: 60 vectors in [-0.5, 0.5]^8 with
    * a few exact duplicates (tie-break coverage).
    */
  private def corpus(parts: Int): DataFrame = {
    val s = spark
    import s.implicits._
    graft.plans.DotD.register(s)
    val rows = (0 until 60).map { i =>
      val base = if (i >= 56) i - 8 else i // 4 exact duplicates
      val v = Seq.tabulate(DIM)(j =>
        (((base * 131 + j * 37) % 101) - 50) / 100.0)
      (i.toLong, v)
    }
    s.createDataset(rows).repartition(parts).toDF("vec_id", "v0")
      .select(col("vec_id"), transform(col("v0"), _.cast("double")).as("v"))
      .withColumn("n2", call_function("dotd", col("v"), col("v")))
  }

  /** The previous DataFrame formulation, verbatim (residual = true is
    * knn_ivfpq_residual's shape; residual = false is knn_ivfpq's: raw
    * subvector codebooks and no q·c constant — expressed here as qc = 0,
    * arithmetically identical for exact longs).
    */
  private def reference(e0: DataFrame, residual: Boolean = true): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    def dot(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("dotd", a, b)
    val e = e0.persist()
    def assign(cents: DataFrame): DataFrame =
      e.join(broadcast(cents), lit(true))
        .withColumn("ccos",
          dot(col("cv"), col("v")) / (sqrt(col("cn2")) * sqrt(col("n2"))))
        .groupBy("vec_id")
        .agg(max_by(struct(col("v"), col("n2"), col("c_id")),
          struct(col("ccos"), -col("c_id"))).as("b"))
        .select(col("vec_id"), col("b.v").as("v"), col("b.n2").as("n2"),
          col("b.c_id").as("cell"))
    val cents0 = e.filter(col("vec_id") < K)
      .select(col("vec_id").as("c_id"), col("v").as("cv"), col("n2").as("cn2"))
    val cents1 = assign(cents0)
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
    val a1 = assign(cents1).persist()
    val rsubs = (if (residual)
      a1.join(broadcast(cents1.select(col("c_id").as("cell"), col("cv"))), "cell")
        .select(col("vec_id"),
          explode(array((0 until M).map { m =>
            struct(lit(m).as("m"),
              zip_with(slice(col("v"), m * SUB + 1, SUB),
                slice(col("cv"), m * SUB + 1, SUB),
                (x, c) => x - c).as("sub"))
          }: _*)).as("s"))
      else
      e.select(col("vec_id"),
        explode(array((0 until M).map { m =>
          struct(lit(m).as("m"), slice(col("v"), m * SUB + 1, SUB).as("sub"))
        }: _*)).as("s")))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sub").as("sub"))
      .persist()
    val cb0 = rsubs.filter(col("vec_id") < K)
      .select(col("m"), col("vec_id").as("code"), col("sub").as("cw"))
      .withColumn("cwn2", dot(col("cw"), col("cw")))
    def encodeWith(cb: DataFrame): DataFrame =
      rsubs.join(broadcast(cb), "m")
        .withColumn("d2", col("cwn2") - lit(2.0) * dot(col("sub"), col("cw")))
        .groupBy("vec_id", "m")
        .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
    val cb1 = encodeWith(cb0).join(rsubs, Seq("vec_id", "m"))
      .select(col("m"), col("code"), posexplode(col("sub")).as(Seq("pos", "x")))
      .groupBy("m", "code", "pos")
      .agg((sum(floor(col("x") * 1000000000L)).cast("double") /
        (count(lit(1)) * 1000000000L).cast("double")).as("mean"))
      .groupBy("m", "code")
      .agg(transform(
        sort_array(collect_list(struct(col("pos"), col("mean")))),
        p => p.getField("mean")).as("cw"))
      .withColumn("cwn2", dot(col("cw"), col("cw")))
    val encoded = encodeWith(cb1)
    val q = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"), col("v").as("qv"), col("n2").as("qn2"))
    val probes = q.join(broadcast(cents1), lit(true))
      .withColumn("pcos",
        dot(col("qv"), col("cv")) / (sqrt(col("qn2")) * sqrt(col("cn2"))))
      .withColumn("prk", row_number().over(
        w.partitionBy("q_id").orderBy(col("pcos").desc, col("c_id"))))
      .filter(col("prk") <= NPROBE)
      .select(col("q_id"), col("c_id").as("qcell"),
        (if (residual) floor(dot(col("qv"), col("cv")) * 1e6).cast("long")
         else lit(0L)).as("qc"))
    val lut = q
      .select(col("q_id"),
        explode(array((0 until M).map { m =>
          struct(lit(m).as("m"), slice(col("qv"), m * SUB + 1, SUB).as("qsub"))
        }: _*)).as("s"))
      .select(col("q_id"), col("s.m").as("m"), col("s.qsub").as("qsub"))
      .join(broadcast(cb1), "m")
      .select(col("q_id"), col("m"), col("code"),
        floor(dot(col("qsub"), col("cw")) * 1e6).cast("long").as("pdot_q"))
    encoded.join(a1.select("vec_id", "cell"), "vec_id")
      .join(broadcast(probes), col("cell") === col("qcell"))
      .join(broadcast(lut), Seq("q_id", "m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg((min(col("qc")) + sum(col("pdot_q"))).cast("long").as("score_q"),
        count(lit(1)).as("nm"))
      .filter(col("nm") === M)
      .withColumn("rk", row_number().over(
        w.partitionBy("q_id").orderBy(col("score_q").desc, col("vec_id"))))
      .filter(col("rk") <= 5)
      .select("q_id", "rk", "vec_id", "score_q")
      .orderBy("q_id", "rk")
  }

  private def rowsOf(df: DataFrame): Seq[(Long, Int, Long, Long)] =
    df.collect().toSeq.map(r =>
      (r.getLong(0), r.getInt(1), r.getLong(2), r.getLong(3)))

  test("typed pipeline ≡ Column formulation (bit parity, incl. duplicates)") {
    val ref = rowsOf(reference(corpus(3)))
    val got = rowsOf(IvfPqResidual.topk(corpus(3), M, SUB, K, NPROBE, 3, 5))
    spark.catalog.clearCache()
    got shouldBe ref
    ref.nonEmpty shouldBe true
  }

  test("typed pipeline ≡ Column formulation, residual = false (knn_ivfpq shape)") {
    val ref = rowsOf(reference(corpus(3), residual = false))
    val got = rowsOf(IvfPqResidual.topk(corpus(3), M, SUB, K, NPROBE, 3, 5,
      residual = false))
    spark.catalog.clearCache()
    got shouldBe ref
    ref.nonEmpty shouldBe true
  }

  test("typed pipeline ≡ Column formulation, coarse = false (emb_pq_adc shape)") {
    // reference: pure-PQ ADC — encode against the refit codebook, every
    // vector a candidate for every query (no cells/probes)
    val e = corpus(3).persist()
    def dotc(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      call_function("dotd", a, b)
    val w = org.apache.spark.sql.expressions.Window
    val cb0 = e.filter(col("vec_id") < K)
      .select(col("vec_id").as("code"),
        explode(array((0 until M).map { m =>
          struct(lit(m).as("m"), slice(col("v"), m * SUB + 1, SUB).as("cw"))
        }: _*)).as("s"))
      .select(col("s.m").as("m"), col("code"), col("s.cw").as("cw"))
      .withColumn("cwn2", dotc(col("cw"), col("cw")))
    val subs = e.select(col("vec_id"),
      explode(array((0 until M).map { m =>
        struct(lit(m).as("m"), slice(col("v"), m * SUB + 1, SUB).as("sub"))
      }: _*)).as("s"))
      .select(col("vec_id"), col("s.m").as("m"), col("s.sub").as("sub"))
    def encodeWith(cb: DataFrame): DataFrame =
      subs.join(broadcast(cb), "m")
        .withColumn("d2", col("cwn2") - lit(2.0) * dotc(col("sub"), col("cw")))
        .groupBy("vec_id", "m")
        .agg(min_by(col("code"), struct(col("d2"), col("code"))).as("code"))
    val cb1 = encodeWith(cb0).join(subs, Seq("vec_id", "m"))
      .select(col("m"), col("code"), posexplode(col("sub")).as(Seq("pos", "x")))
      .groupBy("m", "code", "pos")
      .agg((sum(floor(col("x") * 1000000000L)).cast("double") /
        (count(lit(1)) * 1000000000L).cast("double")).as("mean"))
      .groupBy("m", "code")
      .agg(transform(
        sort_array(collect_list(struct(col("pos"), col("mean")))),
        p => p.getField("mean")).as("cw"))
      .withColumn("cwn2", dotc(col("cw"), col("cw")))
    val lutDf = e.filter(col("vec_id") < 3)
      .select(col("vec_id").as("q_id"),
        explode(array((0 until M).map { m =>
          struct(lit(m).as("m"), slice(col("v"), m * SUB + 1, SUB).as("qsub"))
        }: _*)).as("s"))
      .select(col("q_id"), col("s.m").as("m"), col("s.qsub").as("qsub"))
      .join(broadcast(cb1), "m")
      .select(col("q_id"), col("m"), col("code"),
        floor(dotc(col("qsub"), col("cw")) * 1e6).cast("long").as("pdot_q"))
    val refDf = encodeWith(cb1).join(broadcast(lutDf), Seq("m", "code"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id")
      .agg(sum(col("pdot_q")).cast("long").as("score_q"),
        count(lit(1)).as("nm"))
      .filter(col("nm") === M)
      .withColumn("rk", row_number().over(
        w.partitionBy("q_id").orderBy(col("score_q").desc, col("vec_id"))))
      .filter(col("rk") <= 5)
      .select("q_id", "rk", "vec_id", "score_q")
      .orderBy("q_id", "rk")
    val ref = rowsOf(refDf)
    val got = rowsOf(IvfPqResidual.topk(corpus(3), M, SUB, K, 0, 3, 5,
      residual = false, coarse = false))
    spark.catalog.clearCache()
    got shouldBe ref
    ref.nonEmpty shouldBe true
  }

  test("partition-count independence") {
    val a = rowsOf(IvfPqResidual.topk(corpus(1), M, SUB, K, NPROBE, 3, 5))
    val b = rowsOf(IvfPqResidual.topk(corpus(7), M, SUB, K, NPROBE, 3, 5))
    spark.catalog.clearCache()
    a shouldBe b
    a.nonEmpty shouldBe true
  }

  test("empty embedding frame: no seeds gives an empty result, not an AIOOBE") {
    // an empty frame, and a corpus with no seed ids (vec_id < k)
    for (e <- Seq(corpus(3).limit(0), corpus(3).filter(col("vec_id") >= K))) {
      val got = IvfPqResidual.topk(e, M, SUB, K, NPROBE, 3, 5)
      got.columns.toSeq shouldBe Seq("q_id", "rk", "vec_id", "score_q")
      rowsOf(got) shouldBe empty
      spark.catalog.clearCache()
    }
  }
}
