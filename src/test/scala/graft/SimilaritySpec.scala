package graft

import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions
import graft.operators.Similarity
import graft.sources.Tables

/** Similarity search: brute-force exactness and the two approximate paths
  * (LSH buckets, IVF cells) recalling what brute force finds.
  */
class SimilaritySpec extends SparkSpec {

  private def emb = Tables(spark, sfDir, "embeddings")

  test("brute-force top-k is the exact reference ranking") {
    GraftFunctions.register(spark)
    val top = Similarity.bruteForceTopK(emb, "vec_id", "embedding", queryId = 0L, k = 5)
      .collect()
    assert(top.length == 5)
    val scores = top.map(_.getDouble(1))
    assert(scores.sameElements(scores.sorted.reverse), "must be sorted by cos desc")
    assert(!top.map(_.getLong(0)).contains(0L), "query vector excluded")
  }

  test("materialized IVF index: probe partition-prunes to nprobe cells; full probe is exact") {
    import org.apache.spark.sql.functions.col
    GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("ivf_idx").toString + "/idx"
    Similarity.ivfWrite(emb, "vec_id", "embedding", dir, nlist = 8)

    val qv = emb.filter(col("vec_id") === 0L)
      .head().getSeq[Float](1).toArray
    // nprobe = nlist probes every cell → must equal the brute-force ranking
    // (modulo the query row itself, which the index contains)
    val full = Similarity.ivfProbe(spark, dir, qv, k = 11, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.head._1 == 0L && full.head._2 == 1.0,
      "the stored query vector itself must rank first at cos 1")
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getLong(0)).toSeq
    assert(full.tail.map(_._1).toSeq == exact,
      "full-probe IVF must reproduce the exact ranking")

    // narrow probe: the scan must carry a partition filter on the cell —
    // this is what makes a probe read nprobe/nlist of a 100 TB index
    val narrow = Similarity.ivfProbe(spark, dir, qv, k = 5, nprobe = 2)
    val plan = narrow.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cell") &&
      !scanLine.replaceAll("\\s", "").contains("PartitionFilters:[]"),
      s"probe must partition-prune on cell:\n$plan")
    assert(narrow.collect().nonEmpty)
  }

  test("ivfRange: full probe equals the brute-force radius set; narrow probe is a subset and prunes") {
    import org.apache.spark.sql.functions.col
    GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("ivf_rg").toString + "/idx"
    Similarity.ivfWrite(emb, "vec_id", "embedding", dir, nlist = 8)
    val qv = emb.filter(col("vec_id") === 0L)
      .head().getSeq[Float](1).toArray

    // nprobe = nlist → every cell probed → exactly the brute-force radius set
    val full = Similarity.ivfRange(spark, dir, qv, minCos = 0.1, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toMap
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L,
      k = emb.count().toInt)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .filter(_._2 >= 0.1).toMap
    assert(full.get(0L).contains(1.0), "the stored query vector itself is in range at cos 1")
    assert((full - 0L) == exact, s"full-probe range must equal brute force: ${(full - 0L)} vs $exact")

    // narrow probe: subset of the full radius set, partition-pruned scan
    val narrow = Similarity.ivfRange(spark, dir, qv, minCos = 0.1, nprobe = 2)
    val plan = narrow.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cell") &&
      !scanLine.replaceAll("\\s", "").contains("PartitionFilters:[]"),
      s"range probe must partition-prune on cell:\n$plan")
    val narrowSet = narrow.collect().map(_.getLong(0)).toSet
    assert(narrowSet.subsetOf(full.keySet))
    assert(narrowSet.contains(0L), "the query's own cell is always probed")
  }

  test("sq8: byte-range codes, one-step reconstruction error, top-k tracks the exact-dot ranking") {
    import org.apache.spark.sql.functions.col
    GraftFunctions.register(spark)
    val vecs = emb.filter(col("embedding").isNotNull).collect()
      .map(r => r.getLong(0) ->
        r.getSeq[Float](1).map(x => math.floor(x * 1e6 + 0.5).toLong).toArray)
      .toMap
    val d = vecs.values.head.length
    val mn = (0 until d).map(i => vecs.values.map(_(i)).min).toArray
    val rg = (0 until d).map(i => vecs.values.map(_(i)).max - mn(i)).toArray

    val enc = Similarity.sq8Encode(emb, "vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(",").map(_.toInt)).toMap
    assert(enc.keySet == vecs.keySet)
    enc.foreach { case (id, cs) =>
      assert(cs.length == d && cs.forall(c => c >= 0 && c <= 255))
      // reconstruction: dec = mn + (code·rg) div 255 within one step of v6
      (0 until d).foreach { i =>
        val dec = mn(i) + cs(i).toLong * rg(i) / 255L
        val step = math.max(1L, rg(i) / 255L)
        assert(math.abs(dec - vecs(id)(i)) <= step + 1,
          s"vec $id dim $i: dec $dec vs ${vecs(id)(i)} (step $step)")
      }
    }

    val topk = Similarity.sq8TopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val q = vecs(0L)
    val exact = (vecs - 0L).map { case (id, v) =>
      id -> v.zip(q).map { case (a, b) => a * b }.sum
    }.toSeq.sortBy { case (id, s) => (-s, id) }.take(10).map(_._1).toSet
    val recall = topk.intersect(exact).size
    assert(recall >= 7, s"sq8 top-10 recall vs exact dot too low: $recall")
  }

  test("mmrTopK: picks the different medium hit over the near-duplicate plain top-k keeps") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),   // query
      (1L, Array(0.99f, 0.1f, 0.0f, 0.0f)),  // best hit
      (2L, Array(0.98f, 0.11f, 0.0f, 0.0f)), // near-duplicate of 1
      (3L, Array(0.7f, 0.0f, 0.7f, 0.0f))    // different direction, medium rel
    ).toDF("vec_id", "embedding")
    val plain = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", 0L, 2)
      .collect().map(_.getLong(0)).toSeq
    assert(plain == Seq(1L, 2L), s"plain top-k fixture broken: $plain")
    val mmr = Similarity.mmrTopK(vecs, "vec_id", "embedding", 0L,
      k = 2, poolSize = 3, lambdaBp = 5000)
      .collect().map(r => (r.getInt(0), r.getLong(1))).toSeq
    assert(mmr == Seq((1, 1L), (2, 3L)), s"mmr must diversify: $mmr")
    // k = poolSize returns the whole pool, every rank once
    val all = Similarity.mmrTopK(vecs, "vec_id", "embedding", 0L,
      k = 3, poolSize = 3, lambdaBp = 5000)
      .collect().map(r => (r.getInt(0), r.getLong(1)))
    assert(all.map(_._1).toSeq == Seq(1, 2, 3) && all.map(_._2).toSet == Set(1L, 2L, 3L))
  }

  test("mmrTopKBatch: each query's selection equals an independent plain-Scala greedy over its pool") {
    import org.apache.spark.sql.functions.{concat, lit}
    GraftFunctions.register(spark)
    val qs = emb.filter(col("vec_id").isin(0L, 7L))
      .select(concat(lit("q"), col("vec_id")).as("query_id"),
        col("embedding").as("qv"))
    val got = Similarity.mmrTopKBatch(emb, "vec_id", "embedding", qs,
      "query_id", "qv", k = 3, poolSize = 5, lambdaBp = 6000)
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap

    def cos4(a: Array[Float], b: Array[Float]): Long = {
      var dot = 0.0; var nx = 0.0; var ny = 0.0; var i = 0
      val n = math.min(a.length, b.length)
      while (i < n) {
        val x = a(i).toDouble; val y = b(i).toDouble
        dot += x * y; nx += x * x; ny += y * y; i += 1
      }
      val c = if (nx == 0.0 || ny == 0.0) 0.0 else dot / (math.sqrt(nx) * math.sqrt(ny))
      math.floor(c * 10000.0).toLong
    }
    val vecs = emb.filter(col("embedding").isNotNull).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    Seq(0L, 7L).foreach { qid =>
      val qv = vecs(qid)
      val pool = vecs.toSeq.map { case (id, v) => (id, cos4(v, qv), v) }
        .sortBy { case (id, rel, _) => (-rel, id) }.take(5)
      var remaining = pool
      val chosen = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
      (1 to 3).foreach { rank =>
        val best = remaining.map { case (id, rel, v) =>
          val ms = if (chosen.isEmpty) 0L else chosen.map(sv => cos4(v, sv)).max
          (6000L * rel - 4000L * ms, id, v)
        }.minBy { case (s, id, _) => (-s, id) }
        assert(got((s"q$qid", rank)) == best._2,
          s"q$qid rank $rank: ${got((s"q$qid", rank))} vs ${best._2}")
        chosen += best._3
        remaining = remaining.filterNot(_._1 == best._2)
      }
    }
    // bigint query ids work (r10 ADVICE: the collected pool used to assume a
    // string id) — surfaced as their string rendering, same selections
    val qsLong = emb.filter(col("vec_id").isin(0L, 7L))
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val gotLong = Similarity.mmrTopKBatch(emb, "vec_id", "embedding", qsLong,
      "query_id", "qv", k = 3, poolSize = 5, lambdaBp = 6000)
      .collect().map(r => ((r.getString(0), r.getInt(1)), r.getLong(2))).toMap
    assert(gotLong == got.map { case ((q, r), v) => ((q.stripPrefix("q"), r), v) })
  }

  test("IVF top-k recalls most of the brute-force top-k") {
    GraftFunctions.register(spark)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val ivf = Similarity.ivfTopK(emb, "vec_id", "embedding", 0L, 10,
      nlist = 8, nprobe = 4)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    assert(recall >= 0.5, s"IVF recall too low: $recall (exact=$exact ivf=$ivf)")
  }

  test("ANN LSH recall meets the 1-(1-p^r)^b sign-projection bound on planted neighbors") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val rnd = new scala.util.Random(5)
    val dim = 16
    def rndVec() = Array.fill(dim)(rnd.nextGaussian().toFloat)
    def normalize(v: Array[Float]): Array[Float] = {
      val n = math.sqrt(v.map(x => x.toDouble * x).sum)
      v.map(x => (x / n).toFloat)
    }
    val q = normalize(rndVec())
    // plant neighbors at EXACTLY cos = target: v = q·cosθ + w·sinθ with w ⊥ q,
    // so the theoretical per-table collision prob p = 1 - θ/π is exact, not a
    // property the fixture happens to have
    val target = 0.95
    val planted = (1L to 40L).map { i =>
      val raw = rndVec()
      val proj = q.zip(raw).map { case (a, b) => a * b }.sum
      val orth = normalize(raw.zip(q).map { case (r, qc) => r - proj * qc })
      i -> q.zip(orth).map { case (qc, oc) =>
        (qc * target + oc * math.sqrt(1 - target * target)).toFloat }
    }
    val background = (100L until 400L).map(i => i -> normalize(rndVec()))
    val embSet = (Seq(0L -> q) ++ planted ++ background).toDF("vec_id", "embedding")
    val (tables, bits) = (8, 8)
    val got = Similarity.annTopK(spark, embSet, "vec_id", "embedding",
      queryId = 0L, k = planted.size, tables, bits)
      .collect().map(_.getLong(0)).toSet
    val recall = planted.count(p => got.contains(p._1)).toDouble / planted.size
    // sign-random-projection theory: bits collide w.p. p = 1 - θ/π, a table
    // matches w.p. p^r, any of b tables w.p. 1-(1-p^r)^b — the same formula
    // embeddingPairs uses to tune its band structure
    val p = 1.0 - math.acos(target) / math.Pi
    val bound = 1.0 - math.pow(1.0 - math.pow(p, bits), tables)
    assert(bound > 0.9, s"fixture must make the bound falsifiable, got $bound")
    assert(recall >= bound - 0.1,
      f"measured ANN recall $recall%.3f below theoretical $bound%.3f - 0.1 slack")
  }

  test("IVF recall sweep: non-decreasing in nprobe, exact at nprobe = nlist") {
    GraftFunctions.register(spark)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(_.getLong(0)).toSet
    val recalls = Seq(1, 2, 4, 8).map { np =>
      val ids = Similarity.ivfTopK(emb, "vec_id", "embedding", 0L, 10,
        nlist = 8, nprobe = np).collect().map(_.getLong(0)).toSet
      np -> exact.intersect(ids).size.toDouble / exact.size
    }
    // probed cells are a prefix of the same centroid-distance order, so the
    // candidate set only grows with nprobe and recall of the exact top-k can
    // only rise (nothing outside the exact top-k can displace a member)
    recalls.sliding(2).foreach {
      case Seq((n1, r1), (n2, r2)) =>
        assert(r2 >= r1, s"recall fell from $r1 (nprobe=$n1) to $r2 (nprobe=$n2)")
      case _ =>
    }
    assert(recalls.last._2 == 1.0, s"nprobe = nlist must be exact: $recalls")
  }

  test("IVF+PQ index: full probe reproduces pqTopK; partial probe prunes partitions and is consistent") {
    import graft.operators.Semantic
    GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_idx").toString + "/idx"
    Similarity.ivfPqWrite(emb, "vec_id", "embedding", dir, nlist = 8, m = 8, ksub = 16)
    val qv = emb.filter(col("vec_id") === 0L).head().getSeq[Float](1).toArray

    // full probe == pure ADC search: the index round-trip (write, partition
    // layout, sidecars, LUT rebuild from parquet) must not perturb a single
    // integer distance
    val full = Similarity.ivfPqProbe(spark, dir, qv, k = 20, nprobe = 8,
      excludeId = Some(0L)).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val adc = Semantic.pqTopK(emb, "vec_id", "embedding", queryId = 0L, k = 20)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(full == adc, "full IVF+PQ probe must equal pqTopK exactly")

    // partial probe: partition-pruned scan (the nprobe/nlist × m bytes/vector
    // I/O claim is this plan fact), and every returned distance agrees with
    // the full probe's ADC value — pruning may only SHRINK the candidate set
    val narrow = Similarity.ivfPqProbe(spark, dir, qv, k = 1000, nprobe = 2,
      excludeId = Some(0L))
    val plan = narrow.queryExecution.executedPlan.toString
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("cell") &&
      !scanLine.replaceAll("\\s", "").contains("PartitionFilters:[]"),
      s"IVF+PQ probe must partition-prune on cell:\n$plan")
    val fullAll = Similarity.ivfPqProbe(spark, dir, qv, k = 1000, nprobe = 8,
      excludeId = Some(0L)).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val narrowSet = narrow.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(narrowSet.nonEmpty && narrowSet.subsetOf(fullAll),
      "partial-probe results must be a subset of the full ADC ranking")
  }

  test("ivfPqRerank: exact refinement of the ADC short list; degenerates to exact search at full budget") {
    GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_rr").toString + "/idx"
    Similarity.ivfPqWrite(emb, "vec_id", "embedding", dir, nlist = 8, m = 8, ksub = 16)
    val qv = emb.filter(col("vec_id") === 0L).head().getSeq[Float](1).toArray
    val n = emb.filter(col("embedding").isNotNull).count().toInt

    // full probe + corpus-wide candidate budget ⇒ the refinement sees every
    // vector, so the result must equal the exact quantized-L2 ranking (which
    // assignCells' distance formula computes independently of PQ)
    val rr = Similarity.ivfPqRerank(spark, dir, emb, "vec_id", "embedding",
      qv, k = 10, topN = n, nprobe = 8, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSeq
    val qq = qv.map(x => math.floor(x.toDouble * 1000000.0 + 0.5).toLong)
    val exact = emb.filter(col("embedding").isNotNull && col("vec_id") =!= 0L)
      .select(col("vec_id"),
        expr("transform(embedding, x -> floor(cast(x as double) * 1000000.0d + 0.5d))").as("x"))
      .collect()
      .map { r =>
        val x = r.getSeq[Long](1)
        (r.getLong(0), x.zip(qq).map { case (a, b) => (a - b) * (a - b) }.sum)
      }
      .sortBy { case (id, d) => (d, id) }.take(10).toSeq
    assert(rr == exact, "full-budget rerank must equal the exact quantized-L2 top-k")

    // tight budget: the returned ids must come from the ADC short list, and
    // the exact distances must be ordered (refinement reorders, never invents)
    val cand = Similarity.ivfPqProbe(spark, dir, qv, k = 15, nprobe = 2,
      excludeId = Some(0L)).collect().map(_.getLong(0)).toSet
    val tight = Similarity.ivfPqRerank(spark, dir, emb, "vec_id", "embedding",
      qv, k = 5, topN = 15, nprobe = 2, excludeId = Some(0L)).collect()
    assert(tight.map(_.getLong(0)).toSet.subsetOf(cand),
      "rerank must only ever reorder the ADC candidates")
    val eds = tight.map(_.getLong(2))
    assert(eds.sameElements(eds.sorted), "rerank output is ordered by exact distance")
  }

  test("ivfPqAppend: appended vectors join the index under the frozen codebooks") {
    GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_ap").toString + "/idx"
    val nonNull = emb.filter(col("embedding").isNotNull)
    Similarity.ivfPqWrite(emb.filter(col("vec_id") % 2 === 0),
      "vec_id", "embedding", dir, nlist = 8, m = 8, ksub = 16)
    // the appended batch: the odd half plus a planted clone of query 0 — the
    // clone must encode to the SAME codes under the frozen codebook, making
    // its ADC distance the provable minimum of the whole index
    val clone = emb.filter(col("vec_id") === 0L)
      .withColumn("vec_id", lit(99999L))
    Similarity.ivfPqAppend(spark,
      emb.filter(col("vec_id") % 2 === 1).unionByName(clone),
      "vec_id", "embedding", dir)
    assert(spark.read.parquet(dir).count() == nonNull.count() + 1,
      "append must add every new row exactly once, duplicating nothing")
    val qv = emb.filter(col("vec_id") === 0L).head().getSeq[Float](1).toArray
    val res = Similarity.ivfPqProbe(spark, dir, qv, k = 5, nprobe = 8,
      excludeId = Some(0L)).collect().map(r => (r.getLong(0), r.getLong(1)))
    val minD = res.map(_._2).min
    assert(res.exists { case (id, d) => id == 99999L && d == minD },
      s"the appended clone must rank at the minimal ADC distance: ${res.toSeq}")
    assert(res.exists(_._1 % 2 == 1), s"odd-half rows must be probable: ${res.toSeq}")
  }

  test("ivfPqCompact: one file per cell afterwards, content and probes unchanged") {
    GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_c").toString + "/idx"
    Similarity.ivfPqWrite(emb.filter(col("vec_id") % 3 === 0),
      "vec_id", "embedding", dir, nlist = 4, m = 8, ksub = 8)
    Similarity.ivfPqAppend(spark, emb.filter(col("vec_id") % 3 === 1),
      "vec_id", "embedding", dir)
    Similarity.ivfPqAppend(spark, emb.filter(col("vec_id") % 3 === 2),
      "vec_id", "embedding", dir)
    def filesPerCell: Map[String, Int] = {
      val root = new java.io.File(dir)
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("cell="))
        .map(d => d.getName -> d.listFiles().count(_.getName.endsWith(".parquet")))
        .toMap
    }
    def rows = spark.read.parquet(dir)
      .select(col("vec_id"), col("codes").cast("string"), col("cell").cast("long"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val before = rows
    assert(filesPerCell.values.max > 1, "three writes must leave multi-file cells")
    val qv = emb.filter(col("vec_id") === 0L).head().getSeq[Float](1).toArray
    val probeBefore = Similarity.ivfPqProbe(spark, dir, qv, k = 10, nprobe = 4,
      excludeId = Some(0L)).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    Similarity.ivfPqCompact(spark, dir)
    assert(filesPerCell.values.forall(_ == 1), s"one file per cell: $filesPerCell")
    assert(rows == before, "compaction must not change a single row")
    val probeAfter = Similarity.ivfPqProbe(spark, dir, qv, k = 10, nprobe = 4,
      excludeId = Some(0L)).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(probeAfter == probeBefore, "probes must be oblivious to compaction")
  }

  test("ivfPqProbeBatch: each query's probe equals the single-query ivfPqProbe, full and partial") {
    GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_b").toString + "/idx"
    Similarity.ivfPqWrite(emb, "vec_id", "embedding", dir, nlist = 8, m = 8, ksub = 16)
    val qids = Seq(0L, 100L, 250L)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
    for (nprobe <- Seq(8, 2)) {
      // the in-plan cell ranking, LUT build, and probe restriction must
      // reproduce the driver-side single-query form query by query — at full
      // probe (== ADC) AND at partial probe (same pruned candidate set)
      val batch = Similarity.ivfPqProbeBatch(spark, dir, queries,
        "vec_id", "embedding", k = 10, nprobe = nprobe)
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) => q -> rs.map(r => (r.getLong(1), r.getLong(2))).toSeq }
      assert(batch.keySet == qids.toSet)
      qids.foreach { q =>
        val qv = emb.filter(col("vec_id") === q).head().getSeq[Float](1).toArray
        val single = Similarity.ivfPqProbe(spark, dir, qv, k = 10,
          nprobe = nprobe, excludeId = Some(q))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(batch(q).sortBy(identity) == single.sortBy(identity),
          s"batch probe (nprobe=$nprobe) diverged from ivfPqProbe for query $q")
      }
    }
  }

  test("ivfPq probes rank a null or short codes row last, never first") {
    import spark.implicits._
    GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_null").toString + "/idx"
    Similarity.ivfPqWrite(emb, "vec_id", "embedding", dir, nlist = 8, m = 8, ksub = 16)
    val cell = spark.read.parquet(dir).select("cell").head().getInt(0)
    // malformed rows as an on-disk index can hold them: a null codes array
    // and one with 1 of m = 8 codes
    Seq((900001L, None, cell), (900002L, Some(Seq[Byte](0)), cell))
      .toDF("vec_id", "codes", "cell")
      .write.mode("append").partitionBy("cell").parquet(dir)
    val bad = Set(900001L, 900002L)
    val n = spark.read.parquet(dir).count().toInt
    val qv = emb.filter(col("vec_id") === 0L).head().getSeq[Float](1).toArray
    val queries = emb.filter(col("vec_id") === 0L)
    def single(k: Int) = Similarity.ivfPqProbe(spark, dir, qv, k = k, nprobe = 8,
      excludeId = Some(0L)).collect().map(r => (r.getLong(0), r.get(1))).toSeq
    def batch(k: Int) = Similarity.ivfPqProbeBatch(spark, dir, queries,
      "vec_id", "embedding", k = k, nprobe = 8)
      .orderBy(col("adist").asc_nulls_last, col("vec_id").asc)
      .collect().map(r => (r.getLong(1), r.get(2))).toSeq
    for ((label, probe) <- Seq("ivfPqProbe" -> single _, "ivfPqProbeBatch" -> batch _)) {
      assert(!probe(10).exists(r => bad(r._1)), s"$label: a malformed row reached the top-k")
      // with every row ranked, the two malformed rows come last with no distance
      val all = probe(n)
      assert(all.takeRight(2).map(_._1).toSet == bad, s"$label: ${all.takeRight(3)}")
      assert(all.takeRight(2).forall(_._2 == null), label)
      assert(all.dropRight(2).forall(_._2 != null), label)
    }
  }

  test("ivfPqRerankBatch: each query's reranked list equals the single-query ivfPqRerank") {
    GraftFunctions.register(spark)
    val dir = java.nio.file.Files.createTempDirectory("ivfpq_rb").toString + "/idx"
    Similarity.ivfPqWrite(emb, "vec_id", "embedding", dir, nlist = 8, m = 8, ksub = 16)
    val qids = Seq(0L, 100L, 250L)
    val queries = emb.filter(col("vec_id").isin(qids: _*))
    for (nprobe <- Seq(8, 2)) {
      // both stages — per-query shortlist AND the keyed refinement join —
      // must reproduce the driver-side two-stage form query by query, at
      // full probe and at partial probe
      val batchDf = Similarity.ivfPqRerankBatch(spark, dir, queries,
        "vec_id", "embedding", emb, "vec_id", "embedding",
        k = 5, topN = 20, nprobe = nprobe)
      // the refinement fetch must stay a KEYED join (broadcast or shuffled
      // hash on vec_id/query_id) — a cartesian here would be a corpus-wide
      // fetch per query at scale
      assert(!batchDf.queryExecution.executedPlan.toString.contains("CartesianProduct"),
        "batch rerank refinement must not plan a cartesian product")
      val batch = batchDf
        .collect().groupBy(_.getLong(0))
        .map { case (q, rs) =>
          q -> rs.map(r => (r.getLong(1), r.getLong(2), r.getLong(3))).toSeq }
      assert(batch.keySet == qids.toSet)
      qids.foreach { q =>
        val qv = emb.filter(col("vec_id") === q).head().getSeq[Float](1).toArray
        val single = Similarity.ivfPqRerank(spark, dir, emb, "vec_id", "embedding",
          qv, k = 5, topN = 20, nprobe = nprobe, excludeId = Some(q))
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
        assert(batch(q).sortBy(identity) == single.sortBy(identity),
          s"batch rerank (nprobe=$nprobe) diverged from ivfPqRerank for query $q")
      }
    }
    intercept[IllegalArgumentException] {
      Similarity.ivfPqRerankBatch(spark, dir, queries, "vec_id", "embedding",
        emb, "vec_id", "embedding", k = 30, topN = 20)
    }
  }

  test("pqTopKBatch: every query row's top-k equals the single-query pqTopK") {
    import graft.operators.Semantic
    val batch = Semantic.pqTopKBatch(emb, "vec_id", "embedding",
      emb.filter(col("vec_id").isin(0L, 100L, 250L)), "vec_id", "embedding",
      k = 10)
      .collect()
      .groupBy(_.getLong(0))
      .map { case (q, rows) => q -> rows.map(r => (r.getLong(1), r.getLong(2))).toSeq }
    assert(batch.keySet == Set(0L, 100L, 250L))
    batch.foreach { case (q, rows) =>
      val single = Semantic.pqTopK(emb, "vec_id", "embedding", queryId = q, k = 10)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(rows.sortBy(identity) == single.sortBy(identity),
        s"batch result for query $q diverged from pqTopK")
    }
  }

  test("IVF with nprobe = nlist degenerates to exact search") {
    GraftFunctions.register(spark)
    val exact = Similarity.bruteForceTopK(emb, "vec_id", "embedding", 0L, 10)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    val full = Similarity.ivfTopK(emb, "vec_id", "embedding", 0L, 10,
      nlist = 8, nprobe = 8)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(full.sameElements(exact), "probing every cell must equal brute force")
  }
}
