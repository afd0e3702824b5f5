package graft.sources

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Fixture-table access. The reference fetches externally-owned schemas from a
  * planner RPC (reference: trino/RecordServiceMetadata.java:769-815); our tables are
  * parquet directories resolved by name, schemas inferred from footers once
  * per session and file state (see `read`).
  *
  * Reads go through `spark.read.parquet`, i.e. Spark's DSv2 parquet source:
  * vectorized columnar decode for flat schemas and row-based for nested ones —
  * the same dispatch the reference implements by hand
  * (trino/RecordServicePageSourceProvider.java:56-65).
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    val (df, bytes) = if (name == "events") readEvents(spark, path) else read(spark, path)
    graft.plans.SessionProps(spark, df, Some(bytes))
  }

  /** What a memoized footer schema was inferred under: every leaf file's
    * (path, length, mtime) — the file itself for a single-file table — and
    * the session's explicitly set parquet read confs (`readEvents` sets two
    * of them, and they change the inferred types).
    */
  private final case class Stamp(files: Seq[(String, Long, Long)],
      confs: Seq[(String, String)])

  private final case class Memo(stamp: Stamp, schema: StructType)

  // footer-inferred schema per qualified table path, per session — the
  // metadata cache the reference keeps (okera.metadata.cache-ttl-ms,
  // trino/RecordServiceConfig.java:201-206), with the file listing and confs
  // as its validity check instead of a TTL. Without it every read re-runs
  // Spark's footer inference, one Spark job per table per query. Only the
  // StructType is kept: every read still builds a fresh DataFrame, so
  // analysis (and with it GovernanceRule) runs on every read and a policy
  // registered after the memo is warm still applies. A failed inference
  // stores nothing. Weak session keys, as for `lastReg` below.
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, Memo]]())

  /** Read a parquet table through the schema memo; also returns its on-disk
    * size (drives byte-budget sampling), summed from the same listing.
    */
  private def read(spark: SparkSession, path: String): (DataFrame, Long) = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val qualified = fs.makeQualified(p)
    val files = ArrayBuffer.empty[(String, Long, Long)]
    val it = fs.listFiles(qualified, true)
    while (it.hasNext) {
      val f = it.next()
      files += ((f.getPath.toString, f.getLen, f.getModificationTime))
    }
    val confs = spark.conf.getAll.toSeq
      .filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") }
      .sorted
    val stamp = Stamp(files.toSeq, confs)
    val memo = schemas.computeIfAbsent(spark,
      _ => new java.util.concurrent.ConcurrentHashMap[String, Memo]())
    val key = qualified.toString
    val schema = Option(memo.get(key)).filter(_.stamp == stamp).map(_.schema)
      .getOrElse {
        val inferred = spark.read.parquet(path).schema
        memo.put(key, Memo(stamp, inferred))
        inferred
      }
    (spark.read.schema(schema).parquet(path), files.iterator.map(_._2).sum)
  }

  /** Schema-adaptive events read. Fixture generations have shipped `ts` as either
    * parquet TIMESTAMP(NANOS) or TIMESTAMP(MICROS); the footer decides the path:
    *  - NANOS: Spark's reader rejects it (PARQUET_TYPE_ILLEGAL) unless read as raw
    *    int64 (`nanosAsLong`), then truncated to Spark's native µs precision
    *    (SURVEY.md §7.4). `div` keeps the arithmetic in longs — a double round-trip
    *    would corrupt ~1.7e18-scale values (> 2^53).
    *  - MICROS (not UTC-adjusted): with NTZ inference off, Spark reads the stored
    *    micros as a TimestampType instant. Sessions here pin
    *    spark.sql.session.timeZone=UTC, so wall-clock values are identical to what
    *    the nanos path produced and to DuckDB's naive read of the same file.
    * Both paths yield the same TimestampType column with the same values.
    */
  private def readEvents(spark: SparkSession, path: String): (DataFrame, Long) = {
    import org.apache.spark.sql.functions.{expr, timestamp_micros}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType}
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val (raw, bytes) = read(spark, path)
    val df = raw.schema("ts").dataType match {
      case LongType         => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", expr("cast(ts as timestamp)"))
      case _                => raw // native µs TimestampType
    }
    (df, bytes)
  }

  // last (dir, governance epoch) registered per session. Registering builds
  // 10 DataFrames; their footer schemas come from the schema memo, so a
  // re-registration costs a file listing and an analysis per table, no Spark
  // job. The governance epoch is part of the key because temp views store
  // their ANALYZED plan — a view analyzed under old policies keeps them
  // forever, so any policy change must force re-registration (the memo holds
  // schemas only, never plans, so re-registration re-applies policies).
  // WeakHashMap keyed on the session object itself: an identityHashCode key is
  // reusable after GC (a fresh session colliding with a dead one would silently
  // skip registration) and pins nothing — the weak key lets closed sessions be
  // collected. Synchronized because sessions register from test/query threads.
  private val lastReg = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, String]())

  /** Register every fixture table as a temp view so `spark.sql` corpora work.
    * Idempotent per (session, dir, governance epoch).
    *
    * Fault-isolated per table: one unreadable fixture (e.g. a schema drift the
    * adaptive read doesn't yet cover) must degrade to THAT table's queries only,
    * not take down the whole SQL corpus — in round 7 a single events-schema change
    * silently knocked out ~30 unrelated corpus queries because registration was
    * all-or-nothing. Failures are logged and the memo is only written when every
    * table registered, so a later call retries the broken ones.
    */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    val state = dir + "@" + graft.plans.GovernancePolicies.epoch
    if (lastReg.get(spark) != state) {
      val failed = names.filter { n =>
        try { apply(spark, dir, n).createOrReplaceTempView(n); false }
        catch {
          case e: Exception =>
            System.err.println(s"[graft] registerAll: table '$n' failed to register " +
              s"from $dir — its queries will fail, others are unaffected: ${e.getMessage}")
            true
        }
      }
      // recorded only when EVERY view registered: a partial registration must not
      // leave the memo claiming full registration happened (next call retries)
      if (failed.isEmpty) lastReg.put(spark, state)
    }
  }

  /** Register the graft DSv2 catalog over `dir` (idempotent; first dir wins for
    * the session since CatalogManager caches the instance) and enable parquet
    * aggregate pushdown so count(*) resolves from footers (reference S7,
    * trino/RecordServicePageSource.java:79-84).
    */
  def registerCatalog(spark: SparkSession, dir: String): Unit = {
    if (spark.conf.getOption("spark.sql.catalog.graft").isEmpty) {
      spark.conf.set("spark.sql.catalog.graft", "graft.catalog.GraftCatalog")
      spark.conf.set("spark.sql.catalog.graft.dir", dir)
    }
    spark.conf.set("spark.sql.parquet.aggregatePushdown", "true")
  }
}
