package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.util.{LinkedHashMap => JMap}

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.types.StructType

/** Per-partition result digests. `count` only consumes the rows, as any
  * action does; `partition` also takes the order-insensitive content hash:
  * the wrapping sum of each row's xxhash64 over all columns.
  */
object RowHash {
  def count(rows: Iterator[InternalRow]): Long = {
    var n = 0L
    while (rows.hasNext) { rows.next(); n += 1 }
    n
  }

  def partition(rows: Iterator[InternalRow], schema: StructType): (Long, Long) = {
    var n = 0L; var sum = 0L
    while (rows.hasNext) { sum += XxHash64Function.hash(rows.next(), schema, 42L); n += 1 }
    (n, sum)
  }
}

/** One query execution: its phase walls, its result's row count, its
  * content hash (verification pass only), and the planner's phase times
  * from `QueryExecution.tracker`.
  */
final case class QueryRun(name: String, buildS: Double, planS: Double, execS: Double,
                          rows: Long, hash: Option[Long], error: String,
                          phases: Map[String, Double], spans: Seq[Long]) {
  def latencyS: Double = buildS + planS + execS
}

/** One pass over the workload, with the JVM's GC time and peak heap. */
final case class Pass(runs: Seq[QueryRun], gcS: Double, heapPeakMb: Double)

/** One benchmark run in one JVM. It reads a JSON plan written by run.py,
  * sets up a session, runs a cold pass and then warm passes over the
  * workload's queries, one query in flight at a time, and writes a JSON
  * result. Between the cold and the warm passes it runs an untimed
  * verification pass, which hashes every query's result. A traced run then
  * runs one traced warm pass and the kernel harness.
  */
object Runner {
  private val MB = 1024.0 * 1024.0

  def main(args: Array[String]): Unit = {
    val mapper = new ObjectMapper()
    val plan = mapper.readTree(new File(args(0)))
    val out = new Runner(plan).run()
    mapper.writerWithDefaultPrettyPrinter().writeValue(new File(plan.get("out").asText), out)
  }

  /** Spark's scratch space comes from SPARK_LOCAL_DIRS, set by run.py. */
  def session(cores: Int, partitions: Int, scratch: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$scratch/warehouse")
      .config("spark.hadoop.hadoop.tmp.dir", s"$scratch/hadoop")
      .getOrCreate()

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted; val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum

  def jmap(kv: (String, Any)*): JMap[String, Any] = {
    val m = new JMap[String, Any](); kv.foreach { case (k, v) => m.put(k, v) }; m
  }
}

final class Runner(plan: JsonNode) {
  import Runner._

  private val dataDir = plan.get("data_dir").asText
  private val scratch = plan.get("scratch").asText
  private val cores = plan.get("cores").asInt
  private val partitions = plan.get("partitions").asInt
  private val seed = plan.get("seed").asLong
  private val warmSeconds = plan.get("seconds").asDouble
  private val minWarm = plan.get("min_warm").asInt
  private val maxWarm = plan.get("max_warm").asInt
  private val traced = plan.get("trace").asBoolean
  private val verify = plan.get("verify").asBoolean
  private val warmUpFirst = plan.get("warm_up").asBoolean
  private val registry = graft.SparkEntry.queries
  private val names: Seq[String] = plan.get("queries").elements().asScala.map(_.asText).toSeq
  private var passNo = 0
  private var spark: SparkSession = _

  /** The seed fixes the order of queries within each pass. */
  private def order(): Seq[String] = {
    passNo += 1
    new scala.util.Random(seed * 1000003L + passNo).shuffle(names)
  }

  def run(): JMap[String, Any] = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    spark = session(cores, partitions, scratch)
    spark.sparkContext.setLogLevel("OFF")
    val ready = System.currentTimeMillis()
    if (warmUpFirst) warmUp()
    val done = System.currentTimeMillis()
    val result = jmap(
      "workload" -> plan.get("workload").asText,
      "session_start_s" -> (ready - jvmStart) / 1e3,
      "session_warmup_s" -> (done - ready) / 1e3,
      "setup_s" -> (done - jvmStart) / 1e3)
    val passes = new java.util.ArrayList[Any]()
    // A traced run traces the cold pass too: it is where sinks write the
    // persisted indexes and memo entries.
    val tracer = if (traced) Some(new Tracer(spark)) else None
    tracer.foreach(_.attach())
    val cold = runPass(tracer)
    tracer.foreach(_.detach())
    passes.add(passJson("cold", cold, tracer.map(Layers.of(_, cold.runs, cores, 0)).orNull))
    // Outside every timed figure: the content hash of each query's result,
    // which run.py checks against expected.json. Run second, the pass also
    // lets the JIT settle: the first pass after the cold one is still
    // 10-20% slower than the next.
    if (verify) passes.add(passJson("verify", runPass(None, hashed = true)))
    val warmStart = System.nanoTime()
    var warm = 0
    while (warm < minWarm || (warm < maxWarm && (System.nanoTime() - warmStart) / 1e9 < warmSeconds)) {
      passes.add(passJson("warm", runPass(None))); warm += 1
    }
    tracer.foreach { tracer =>
      // Its wall minus the median of the untraced warm passes is the
      // tracing overhead.
      tracer.attach()
      val firstBatch = tracer.batches.size
      val pass = runPass(Some(tracer))
      tracer.detach()
      passes.add(passJson("traced", pass, Layers.of(tracer, pass.runs, cores, firstBatch)))
      writeSpans(tracer)
      result.put("kernels", Kernels.measure(spark))
    }
    result.put("passes", passes)
    result.put("table_errors", checkTables())
    spark.stop()
    result
  }

  /** Row counts of the generated input tables, checked after the passes. */
  private def checkTables(): JMap[String, Any] = {
    val errors = jmap()
    for (e <- plan.get("table_rows").properties().asScala) {
      val n = spark.read.parquet(s"$dataDir/${e.getKey}.parquet").count()
      if (n != e.getValue.asLong) errors.put(e.getKey, s"$n rows, expected ${e.getValue.asLong}")
    }
    errors
  }

  /** The warm-up job and one footer read per fixture table, as the
    * program's own bench harness does before its first timed query.
    */
  private def warmUp(): Unit = {
    spark.range(2000000).selectExpr("sum(id)").collect()
    for (t <- graft.SparkEntry.fixtureTables)
      spark.read.parquet(s"$dataDir/$t.parquet").limit(1).collect()
  }

  private def runPass(tracer: Option[Tracer], hashed: Boolean = false): Pass = {
    val gc0 = gcMs()
    tracer.foreach { t => t.drain(); t.resetBlockPeak() }
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    pools.foreach(_.resetPeakUsage())
    val queries = order()
    val passSpan = tracer.fold(0L)(_.begin("pass", s"pass$passNo", "", 0L))
    val runs = queries.map(runQuery(_, tracer, passSpan, hashed))
    tracer.foreach { t => t.end(passSpan); t.drain() }
    Pass(runs, (gcMs() - gc0) / 1e3, pools.map(_.getPeakUsage.getUsed).sum / MB)
  }

  private def runQuery(name: String, tracer: Option[Tracer], passSpan: Long,
                       hashed: Boolean): QueryRun = {
    val sc = spark.sparkContext
    val qSpan = tracer.fold(0L)(_.begin("query", name, name, passSpan))
    val spanIds = scala.collection.mutable.ArrayBuffer[Long]()
    val walls = Array(0.0, 0.0, 0.0)
    def phase[A](i: Int, kind: String)(body: => A): A = {
      val id = tracer.fold(0L)(_.begin(kind, kind, name, qSpan))
      if (tracer.isDefined) { spanIds += id; sc.setLocalProperty(Tracer.SpanKey, id.toString) }
      val t0 = System.nanoTime()
      try body
      finally {
        walls(i) = (System.nanoTime() - t0) / 1e9
        tracer.foreach(_.end(id))
        sc.setLocalProperty(Tracer.SpanKey, null)
      }
    }
    val res = try {
      val df: DataFrame = phase(0, "build")(registry(name)(spark, dataDir))
      val qe = df.queryExecution
      phase(1, "plan")(qe.executedPlan)
      val schema = qe.analyzed.schema
      val (rows, hash) = phase(2, "exec")(SQLExecution.withNewExecutionId(qe, Some(name)) {
        if (hashed) {
          val parts = sc.runJob(qe.toRdd,
            (it: Iterator[InternalRow]) => RowHash.partition(it, schema))
          (parts.map(_._1).sum, Some(parts.map(_._2).sum))
        } else (sc.runJob(qe.toRdd, (it: Iterator[InternalRow]) => RowHash.count(it)).sum, None)
      })
      val phases = qe.tracker.phases.map { case (k, v) => k -> v.durationMs / 1e3 }
      QueryRun(name, walls(0), walls(1), walls(2), rows, hash, "", phases, spanIds.toSeq)
    } catch {
      case e: Throwable =>
        QueryRun(name, walls(0), walls(1), walls(2), -1L, None,
          s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)} at " +
            e.getStackTrace.take(5).mkString(" < "),
          Map.empty, spanIds.toSeq)
    } finally tracer.foreach(_.end(qSpan))
    dropQueryState()
    res
  }

  /** Between queries, outside the timed phases: stop leftover streams and
    * free the query's persisted and checkpointed blocks, as the program's
    * own bench harness does, so one query's state never burdens the next.
    */
  private def dropQueryState(): Unit = {
    spark.streams.active.foreach(q => scala.util.Try(q.stop()))
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
  }

  private def passJson(kind: String, pass: Pass,
                       layers: JMap[String, Any] = null): JMap[String, Any] = {
    val qs = new java.util.ArrayList[Any]()
    pass.runs.foreach { r =>
      qs.add(jmap("name" -> r.name, "build_s" -> r.buildS, "plan_s" -> r.planS,
        "exec_s" -> r.execS, "rows" -> r.rows,
        "hash" -> r.hash.map(java.lang.Long.toHexString).orNull,
        "error" -> r.error))
    }
    val m = jmap("kind" -> kind, "wall_s" -> pass.runs.map(_.latencyS).sum, "queries" -> qs,
      "gc_s" -> pass.gcS, "heap_peak_mb" -> pass.heapPeakMb)
    if (layers != null) m.put("layers", layers)
    m
  }

  private def writeSpans(tracer: Tracer): Unit = {
    val all = new java.util.ArrayList[Any]()
    (tracer.spans.toSeq ++ tracer.jobSpans()).foreach { s =>
      val m = jmap("id" -> s.id, "parent" -> s.parent, "kind" -> s.kind, "name" -> s.name,
        "query" -> s.query, "start_ms" -> s.start, "end_ms" -> s.end)
      s.attrs.foreach { case (k, v) => m.put(k, v) }
      all.add(m)
    }
    new ObjectMapper().writeValue(new File(plan.get("trace_out").asText), all)
  }
}
