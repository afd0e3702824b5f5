package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType

import graft.plans.{ColumnMask, GovernancePolicies, TablePolicy}
import graft.sources.Tables

/** The per-session footer-schema memo in [[Tables]]: a warm read launches no
  * Spark job (Spark's footer inference is one job per table), yet every read
  * is still a fresh DataFrame — governance registered after the memo is warm
  * applies, a rewritten fixture is re-inferred, and a failed inference
  * leaves no entry behind.
  */
class TablesSchemaMemoSpec extends SparkSpec {

  /** `f`'s result and the number of Spark jobs started while it ran. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val jobs = new AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val a = f
      ListenerBusDrain(spark.sparkContext)
      (a, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a warm read of every fixture launches no job and returns the same schema and rows") {
    for (n <- Tables.names) {
      val first = Tables(spark, sfDir, n)
      val (again, jobs) = jobsDuring(Tables(spark, sfDir, n))
      assert(jobs == 0, s"$n: a warm read must not re-infer the footer schema")
      assert(again.schema == first.schema, n)
      assert(again.count() == first.count(), n)
    }
  }

  test("a policy registered after the memo is warm governs reads and views; clearing lifts it") {
    val all = Tables(spark, sfDir, "customer").count()
    Tables.registerAll(spark, sfDir)
    try {
      GovernancePolicies.register("customer", TablePolicy(
        masks = Seq(ColumnMask("c_name", "md5(c_name)")),
        rowFilterSql = Some("c_nationkey < 10")))
      Tables.registerAll(spark, sfDir)
      for ((label, df) <- Seq(
          "Tables" -> Tables(spark, sfDir, "customer"),
          "registerAll view" -> spark.sql("SELECT * FROM customer"))) {
        val rows = df.select("c_nationkey", "c_name").collect()
        assert(rows.nonEmpty && rows.length < all, s"$label: row filter not applied")
        assert(rows.forall(_.getAs[Number](0).longValue < 10), s"$label: row filter bypassed")
        assert(rows.forall(_.getString(1).matches("[0-9a-f]{32}")), s"$label: mask bypassed")
      }
    } finally GovernancePolicies.clear()
    Tables.registerAll(spark, sfDir)
    assert(Tables(spark, sfDir, "customer").count() == all)
    assert(spark.sql("SELECT * FROM customer").count() == all)
  }

  test("a fixture rewritten with a different schema is re-inferred") {
    val dir = Files.createTempDirectory("graft-memo").toString
    val path = s"$dir/region.parquet"
    spark.range(3).select(col("id").as("a")).write.parquet(path)
    assert(Tables(spark, dir, "region").columns.toSeq == Seq("a"))
    spark.range(4).select(col("id").as("b"), lit("x").as("c"))
      .write.mode("overwrite").parquet(path)
    val after = Tables(spark, dir, "region")
    assert(after.columns.toSeq == Seq("b", "c"))
    assert(after.count() == 4)
  }

  test("the events read still yields a µs TimestampType ts, warm or cold") {
    for (_ <- 1 to 2) {
      val ev = Tables(spark, sfDir, "events")
      assert(ev.schema("ts").dataType == TimestampType)
      assert(ev.filter(col("ts").isNotNull).count() > 0)
    }
  }

  test("a corrupt fixture stores no memo entry: every read fails until it is repaired") {
    val dir = Files.createTempDirectory("graft-memo-bad").toString
    val path = java.nio.file.Paths.get(dir, "nation.parquet")
    Files.write(path, "not parquet".getBytes)
    // the second read sees the same file state: had the failed inference left
    // an entry, it would hand back a schema for a file Spark cannot read
    for (_ <- 1 to 2) intercept[Exception](Tables(spark, dir, "nation"))
    Files.delete(path)
    Files.copy(java.nio.file.Paths.get(s"$sfDir/nation.parquet"), path)
    val healed = Tables(spark, dir, "nation")
    assert(healed.schema == Tables(spark, sfDir, "nation").schema)
    assert(healed.count() > 0)
  }
}
