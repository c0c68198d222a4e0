package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}

/**
 * `ops_suite`: every `graft.ops.*` query, grouped by its object. The set-up
 * pass runs each query cold and writes its result for the correctness check
 * (done by `run.py` after this JVM exits, outside the timed window); the
 * timed passes then run the warm suite a fixed number of times, computing
 * every output column of every query.
 */
object Ops {
  type Q = (SparkSession, String) => DataFrame

  val groups: Seq[(String, Map[String, Q])] = Seq(
    "CdcQueries" -> graft.ops.CdcQueries.queries,
    "TextOps" -> graft.ops.TextOps.queries,
    "SimilarityOps" -> graft.ops.SimilarityOps.queries,
    "RelationalOps" -> graft.ops.RelationalOps.queries,
    "Multimodal" -> graft.ops.Multimodal.queries,
    "EngineQueries" -> graft.ops.EngineQueries.queries,
    "SinkOps" -> graft.ops.SinkOps.queries)

  /** concurrent callers in the cold set-up pass */
  val ColdThreads = 3

  /** Remove the scratch tables the queries of a finished pass left in
    * java.io.tmpdir (the engine removes them only at JVM exit): deleted
    * while young they never reach the disk, and do not slow the next pass. */
  private def clearScratch(): Unit =
    Option(new java.io.File(System.getProperty("java.io.tmpdir")).listFiles())
      .getOrElse(Array.empty).filter(_.getName.startsWith("graft-")).foreach(Fs.rm)

  /** Compute every row and column of a query and discard them. A `count()`
    * would let column pruning drop every projected expression, so a
    * projection-only query would time a bare parquet row count. */
  private def runAll(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def uptime: Double =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getUptime / 1000.0

  def run(a: Args): Result = {
    val res = new Result
    val spark = Session.make(a.cores, a.work)
    res.put("spark_version", spark.version)
    val tracer = new Tracer(a.runId)
    val dir = a.dataDir
    val queries = groups.flatMap { case (g, qs) => qs.toSeq.map { case (n, f) => (g, n, f) } }
      .sortBy(_._2)
    require(queries.map(_._2).distinct.size == queries.size, "duplicate query names")
    val results = s"${a.outDir}/results"
    Files.createDirectories(Paths.get(results))

    // set-up: one cold pass, on ColdThreads concurrent callers, that also
    // writes every result for the check
    val s0 = System.nanoTime()
    val pool = java.util.concurrent.Executors.newFixedThreadPool(ColdThreads)
    tracer.span("ops.setup") {
      queries.map { case (_, n, f) =>
        pool.submit(new Runnable {
          def run(): Unit =
            try tracer.span(s"ops.cold.$n", "ops.setup")(
              f(spark, dir).coalesce(1).write.mode("overwrite").parquet(s"$results/$n.parquet"))
            catch { case e: Throwable => res.fail(s"$n (cold pass): ${e.toString.take(300)}") }
        })
      }.foreach(_.get())
    }
    pool.shutdown()
    clearScratch()
    val setupS = (System.nanoTime() - s0) / 1e9
    res.line(f"ops cold pass ${setupS}%.2fs at jvm uptime ${uptime}%.1fs")
    val oracles = graft.SparkEntry.oracleSqlFor(dir)
    Files.write(Paths.get(s"${a.outDir}/oracle_sql.json"),
      Json.obj(oracles.toSeq.sortBy(_._1).map { case (k, v) => k -> Json.str(v) })
        .getBytes(StandardCharsets.UTF_8))

    // timed: a fixed number of whole warm passes
    val window = new JvmWindow
    val perQuery = scala.collection.mutable.Map.empty[String, Vector[Double]].withDefaultValue(Vector.empty)
    val passTotals = Seq.newBuilder[Double]
    (1 to a.reps).foreach { pass =>
      var total = 0.0
      queries.foreach { case (_, n, f) =>
        val t0 = System.nanoTime()
        val ok = try { tracer.span(s"ops.$n")(runAll(f(spark, dir))); true }
          catch { case e: Throwable => res.fail(s"$n: ${e.toString.take(300)}"); false }
        val s = (System.nanoTime() - t0) / 1e9
        res.attempt()
        if (ok) { perQuery(n) = perQuery(n) :+ s; total += s }
      }
      passTotals += total
      clearScratch()
      res.line(f"ops pass $pass total=${total}%.3fs")
    }
    val med = perQuery.map { case (n, v) => n -> Stats.median(v) }.toMap
    val total = Stats.median(passTotals.result())
    res.metric("ops_total_s", total)
    res.metric("queries_per_s", queries.size / total)
    res.metric("query_p50_ms", Stats.median(med.values.toSeq) * 1000)
    res.metric("query_p95_ms", Stats.p95(med.values.toSeq) * 1000)
    res.seq("setup_s_samples", Seq(setupS))
    res.seq("pass_s_samples", passTotals.result())
    groups.foreach { case (g, qs) =>
      res.metric(s"ops.${g}_s", qs.keys.toSeq.map(med.getOrElse(_, 0.0)).sum)
    }
    queries.foreach { case (_, n, _) => res.metric(s"ops.${n}_s", med.getOrElse(n, 0.0)) }
    res.metric("jvm.gc_ms", window.gcSpentMs)
    res.metric("jvm.heap_peak_mb", window.heapPeakMb)
    res.put("queries", queries.map(q => s"${q._1}.${q._2}").mkString(","))
    if (a.trace) res.trace(tracer, a)
    res.line(f"ops timed passes done at jvm uptime ${uptime}%.1fs")
    spark.stop()
    res.line(f"ops spark stopped at jvm uptime ${uptime}%.1fs")
    res
  }
}
