package graftbench

import java.io.File
import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{Observation, SparkSession}

import graft.SparkEntry
import graft.operators.Caches
import graft.sources.Tables

/** One benchmark run: a closed loop with one client thread that executes the
  * op list run.py generated, until at least `min_rounds` rounds are complete
  * and the measured phase has lasted the requested seconds.
  *
  * The session is built the way graft.Bench builds it. Every op is timed
  * from outside through the public entry points only: a corpus op is
  * `SparkEntry.queries(name)(spark, sf)` written into the noop sink, a
  * catalog op is `spark.sql(stmt)` (collected when it is a read).
  *
  * Usage: Harness <spec.json> <result.json> [<spans.json>]
  */
object Harness {

  private val mapper = new ObjectMapper()
  type JMap = java.util.LinkedHashMap[String, Any]

  private def jmap(kv: (String, Any)*): JMap = {
    val m = new JMap()
    kv.foreach { case (k, v) => m.put(k, v) }
    m
  }

  final case class Op(id: Int, round: Int, kind: String, name: String, sql: String)

  private def ops(n: JsonNode): Seq[Op] =
    if (n == null) Nil
    else n.elements().asScala.map { o =>
      Op(o.get("id").asInt, o.get("round").asInt, o.get("kind").asText,
        o.get("name").asText, Option(o.get("sql")).map(_.asText).orNull)
    }.toSeq

  def main(args: Array[String]): Unit = {
    val tMain = System.nanoTime()
    val spec = mapper.readTree(new File(args(0)))
    val sf = spec.get("sf_dir").asText
    val seconds = spec.get("seconds").asDouble
    val traced = spec.get("trace").asBoolean
    val minRounds = spec.get("min_rounds").asInt
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val wall0 = System.currentTimeMillis() - (System.nanoTime() - tMain) / 1000000L
    def msOf(ns: Long): Double = (wall0 + (ns - tMain) / 1e6)

    // ---- set-up: session ----
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.observability.AuditListener.install(spark)
    val tSession = System.nanoTime()

    // ---- set-up: the fixture catalog and the workload's own build ----
    Tables.registerCatalog(spark, sf)
    ops(spec.get("build")).foreach(op => runOp(spark, sf, op, None))
    val tBuild = System.nanoTime()
    val tableDir = Option(spec.get("table_dir")).map(d => new File(d.asText))
    val builtBytes = tableDir.map(du(_)._1)

    // ---- set-up: warm-up rounds (first executions cost ~2x) ----
    val warm = ops(spec.get("warmup")).map(op => runOp(spark, sf, op, None))
    warm.filter(_.error != null).foreach(r =>
      System.err.println(s"[perfbench] warm-up ${r.op.name} failed: ${r.error}"))
    val tWarm = System.nanoTime()

    // ---- measured phase ----
    val trace = new Trace(spark)
    val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
    heapPools.foreach(_.resetPeakUsage())
    val all = ops(spec.get("ops"))
    val deadline = tWarm + (seconds * 1e9).toLong
    val done = scala.collection.mutable.ArrayBuffer.empty[Result]
    var i = 0
    def roundDone = i == 0 || all(i).round != all(i - 1).round
    def enoughRounds = done.map(_.op.round).distinct.size >= minRounds
    while (i < all.size && !(System.nanoTime() >= deadline && roundDone && enoughRounds)) {
      // traced runs alternate traced and untraced rounds, so the same run
      // gives both sides of the overhead ratio
      val tracedRound = traced && all(i).round % 2 == 0
      if (roundDone) trace.attach(tracedRound)
      done += runOp(spark, sf, all(i), if (tracedRound) Some(trace) else None)
      i += 1
    }
    trace.attach(false)
    val tEnd = System.nanoTime()
    trace.drain()
    val peakMb = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
    Caches.release(spark)
    // Spark's ContextCleaner frees broadcast and shuffle blocks only after a
    // GC has cleared their weak references, so collect until it settles
    val retainedMb = (1 to 3).map { _ =>
      System.gc(); Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min

    // on-disk footprint of the mutated table, after set-up and at the end
    val footprint: JMap = tableDir.map { dir =>
      jmap("built_bytes" -> builtBytes.get, "table_bytes" -> du(dir)._1,
        "table_files" -> du(dir)._2)
    }.orNull

    val rt = Runtime.getRuntime
    val out = jmap(
      "setup" -> jmap(
        "session_s" -> (tSession - tMain) / 1e9,
        "build_s" -> (tBuild - tSession) / 1e9,
        "warmup_s" -> (tWarm - tBuild) / 1e9,
        "total_s" -> (tWarm - tMain) / 1e9),
      "measured_s" -> (tEnd - tWarm) / 1e9,
      "warmup" -> warm.map(_.toJson(msOf)).asJava,
      "ops" -> done.map(_.toJson(msOf)).asJava,
      "jvm" -> jmap(
        "retained_heap_mb" -> retainedMb,
        "heap_peak_mb" -> peakMb,
        "max_heap_mb" -> rt.maxMemory / 1048576.0,
        "cores" -> cpus.toInt,
        "jdk" -> System.getProperty("java.version"),
        "spark" -> spark.version),
      "footprint" -> footprint)
    mapper.writeValue(new File(args(1)), out)
    if (traced && args.length > 2) mapper.writeValue(new File(args(2)), trace.dump())
    spark.stop()
  }

  /** Bytes and file count under a directory, hidden/sidecar files included. */
  def du(f: File): (Long, Int) =
    if (f.isFile) (f.length, 1)
    else Option(f.listFiles).map(_.toSeq).getOrElse(Nil).map(du)
      .foldLeft((0L, 0)) { case ((b, n), (b2, n2)) => (b + b2, n + n2) }

  final case class Result(op: Op, startNs: Long, endNs: Long, constructNs: Long,
      digest: String, rows: java.util.List[java.util.List[Any]], error: String) {
    def toJson(msOf: Long => Double): JMap = jmap(
      "id" -> op.id, "round" -> op.round, "kind" -> op.kind, "name" -> op.name,
      "start_ms" -> msOf(startNs), "end_ms" -> msOf(endNs),
      "wall_s" -> (endNs - startNs) / 1e9, "construct_s" -> constructNs / 1e9,
      "digest" -> digest, "rows" -> rows, "error" -> error)
  }

  /** Runs one op. The op's wall time covers construction and execution; the
    * digest rides along the same execution as an observed metric, so
    * checking a result costs no extra job.
    */
  def runOp(spark: SparkSession, sf: String, op: Op, trace: Option[Trace]): Result = {
    val t0 = System.nanoTime()
    var t1 = t0
    var digest: String = null
    var rows: java.util.List[java.util.List[Any]] = null
    var error: String = null
    try op.kind match {
      case "corpus" =>
        val df = SparkEntry.queries(op.name)(spark, sf)
        t1 = System.nanoTime()
        val obs = Observation(s"perfbench_${op.id}")
        val digestCols = Digest.columns(df)
        df.observe(obs, digestCols.head, digestCols.tail: _*)
          .write.format("noop").mode("overwrite").save()
        val m = obs.get
        digest = Digest.render(m("rows").asInstanceOf[Long],
          Option(m("lo")).map(_.asInstanceOf[Long]).getOrElse(0L),
          Option(m("hi")).map(_.asInstanceOf[Long]).getOrElse(0L))
      case "write" =>
        spark.sql(op.sql)
        t1 = System.nanoTime()
      case "read" =>
        val df = spark.sql(op.sql)
        t1 = System.nanoTime()
        rows = df.collect().map(r => r.toSeq.map(norm).asJava).toSeq.asJava
      case other => throw new IllegalArgumentException(s"unknown op kind $other")
    } catch {
      case NonFatal(e) =>
        error = e.getClass.getSimpleName + ": " + String.valueOf(e.getMessage).take(500)
    }
    val t2 = System.nanoTime()
    trace.foreach(_.op(op, t0, t1, t2))
    // operator-internal caches are released between ops, as graft.Bench does
    Caches.release(spark)
    Result(op, t0, t2, t1 - t0, digest, rows, error)
  }

  /** Read results travel as JSON numbers where they are numbers. */
  private def norm(v: Any): Any = v match {
    case d: java.math.BigDecimal => d.doubleValue
    case x: java.lang.Number => x
    case null => null
    case x => Digest.norm(x)
  }
}
