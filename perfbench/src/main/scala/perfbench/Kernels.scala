package perfbench

import java.util.{LinkedHashMap => JMap}

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.expressions.GraftFunctions

/** Rows per second of each native kernel, called through its public Column
  * function over a deterministic generated column, with whole-stage codegen
  * on and with every projection interpreted.
  */
object Kernels {
  private val Rows = 20000
  private val Dim = 64
  private val Reps = 3

  private def vector(seedCol: Column, phase: Double): Column =
    transform(sequence(lit(0), lit(Dim - 1)), i => sin(seedCol * 0.37 + i + phase))

  def measure(spark: SparkSession): JMap[String, Any] = {
    val rnd = new scala.util.Random(11L)
    val planes = Seq.fill(4 * 16)(Seq.fill(Dim)(rnd.nextGaussian()))
    val cents = Array.fill(32)(Array.fill(Dim)(rnd.nextGaussian()))
    val words = transform(sequence(lit(0), lit(39)), i =>
      concat(substring(lit("abcdefghijklmnopqrstuvwxyz"), pmod(col("id") * 7 + i, lit(20)) + 1, lit(4)),
        pmod(col("id") * 31 + i * 7, lit(997)).cast("string")))
    val input = spark.range(0, Rows, 1, spark.sparkContext.defaultParallelism)
      .select(col("id"), concat_ws(" ", words).as("text"))
      .select(col("text"), GraftFunctions.shingles(col("text"), 3).as("sh"),
        vector(col("id"), 0.0).as("vec"), vector(col("id"), 1.5).as("vec2"))
      .persist(StorageLevel.MEMORY_ONLY)
    input.count()

    val kernels: Seq[(String, Column)] = Seq(
      "minhash" -> GraftFunctions.minhashSignature(col("sh"), 64),
      "simhash" -> GraftFunctions.simhash64(col("text")),
      "plane_sigs" -> GraftFunctions.planeSigs(col("vec"), planes, 16),
      "shingles" -> GraftFunctions.shingles(col("text"), 3),
      "cosine" -> GraftFunctions.cosine(col("vec"), col("vec2")),
      "nearest_centroid" -> GraftFunctions.nearestCentroidCos(col("vec"), cents,
        Array.tabulate(cents.length)(_.toLong)),
      "subword_count" -> GraftFunctions.subwordCount(col("text")),
      "script_counts" -> GraftFunctions.scriptCounts(col("text")),
      "repetition" -> GraftFunctions.repetitionStats(col("text"), 2))

    // Both modes are timed in alternation, so JIT warm-up and host load
    // fall on both alike.
    val conf = spark.conf
    def time(k: Column, interpreted: Boolean): Double = {
      conf.set("spark.sql.codegen.wholeStage", (!interpreted).toString)
      conf.set("spark.sql.codegen.factoryMode", if (interpreted) "NO_CODEGEN" else "FALLBACK")
      val t0 = System.nanoTime()
      input.select(k).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    val out = new JMap[String, Any]()
    try for ((name, k) <- kernels) {
      time(k, interpreted = false); time(k, interpreted = true)
      val reps = Seq.fill(Reps)((time(k, interpreted = false), time(k, interpreted = true)))
      out.put(s"kernels.${name}_rows_s", Rows / Runner.median(reps.map(_._1)))
      out.put(s"kernels.${name}_interp_rows_s", Rows / Runner.median(reps.map(_._2)))
    } finally {
      conf.unset("spark.sql.codegen.wholeStage")
      conf.unset("spark.sql.codegen.factoryMode")
      input.unpersist(blocking = true)
    }
    out
  }
}
