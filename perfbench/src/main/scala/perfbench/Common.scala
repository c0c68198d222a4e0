package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Local-mode session with every scratch location under the run's work dir. */
object Session {
  def make(cores: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$cores")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}

/** Order statistics over measured samples. */
object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of no samples")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.ceil(pos).toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def p95(xs: Seq[Double]): Double = quantile(xs, 0.95)
  def ms(t0: Long, t1: Long): Double = (t1 - t0) / 1e6
}

/**
 * Spans recorded by the benchmark around its calls into the engine, plus
 * spans rebuilt from records the engine already writes (streaming progress,
 * `_metrics` rows). Times are wall-clock epoch milliseconds so the two
 * sources share one axis.
 */
final case class Span(name: String, startMs: Double, endMs: Double, parent: String) {
  def ms: Double = endMs - startMs
}

final class Tracer(val runId: String) {
  private val spans = new ConcurrentLinkedQueue[Span]
  // wall-clock milliseconds (the axis of the joined progress records), read
  // through the monotonic clock for sub-millisecond, never-backward spans
  private val wall0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = wall0 + (System.nanoTime() - nano0) / 1e6

  def add(s: Span): Unit = { spans.add(s); () }

  def span[T](name: String, parent: String = "")(f: => T): T = {
    val t0 = nowMs
    try f finally add(Span(name, t0, nowMs, parent))
  }

  def all: Seq[Span] = spans.asScala.toSeq

  def write(path: Path): Unit = {
    Files.createDirectories(path.getParent)
    val lines = all.sortBy(_.startMs).map { s =>
      Json.obj(Seq("run" -> Json.str(runId), "name" -> Json.str(s.name),
        "start_ms" -> Json.num(s.startMs), "end_ms" -> Json.num(s.endMs),
        "parent" -> Json.str(s.parent)))
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    ()
  }

  /** Self time per span name: own duration minus that of its direct children
    * (children are matched by parent name within the parent's interval). */
  def selfTimes: Map[String, Double] = {
    val ss = all
    val byParent = ss.filter(_.parent.nonEmpty).groupBy(_.parent)
    ss.groupBy(_.name).map { case (name, own) =>
      val kids = byParent.getOrElse(name, Nil)
      val childMs = own.map { o =>
        kids.filter(k => k.startMs >= o.startMs - 1 && k.endMs <= o.endMs + 1).map(_.ms).sum
      }.sum
      name -> (own.map(_.ms).sum - childMs)
    }
  }
}

/** Collects every streaming progress event of the session. */
final class ProgressLog extends StreamingQueryListener {
  private val q = new ConcurrentLinkedQueue[StreamingQueryProgress]
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    q.add(e.progress); ()
  }
  override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  /** progress of batches that carried data, one per batch id */
  def dataBatches: Seq[StreamingQueryProgress] =
    q.asScala.toSeq.filter(_.numInputRows > 0).groupBy(p => (p.runId, p.batchId))
      .values.map(_.last).toSeq.sortBy(_.timestamp)
  def clear(): Unit = q.clear()
}

/** One committed epoch: Spark's trigger phases joined with the merge record. */
final case class Epoch(batchId: Long, startMs: Double, inputRows: Long,
    durations: Map[String, Double], merge: Option[Map[String, Double]]) {
  def d(k: String): Double = durations.getOrElse(k, 0.0)
  def trigger: Double = d("triggerExecution")
  def addBatch: Double = d("addBatch")
  def fixed: Double = trigger - addBatch
  def m(k: String): Double = merge.flatMap(_.get(k)).getOrElse(0.0)
  def mergePhases: Double = m("statsMs") + m("writeMs") + m("footerMs") + m("commitMs")
  /** epoch wall not attributed to any named leaf phase */
  def residual: Double = trigger -
    Seq("latestOffset", "getBatch", "queryPlanning", "walCommit", "commitOffsets")
      .map(d).sum - mergePhases
}

object Epochs {
  val StreamPhases = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
    "addBatch", "commitOffsets")

  /** The table's `_metrics` records, read once: epoch rows of one checkpoint
    * lineage keyed by epochId, and the (fold ms, rows rewritten) of every
    * fold `Compaction` committed after snapshot version `foldsAfter`. */
  def records(spark: SparkSession, table: graft.lake.LakeTable, ckptId: String,
      foldsAfter: Long = -1L): (Map[Long, Map[String, Double]], Seq[(Double, Double)]) = {
    val m = table.metrics(spark).cache()
    try {
      val merges =
        if (!m.columns.contains("ckptId")) Map.empty[Long, Map[String, Double]]
        else {
          val cols = Seq("wallMs", "statsMs", "writeMs", "footerMs", "commitMs",
            "filesAdded", "outputRows", "batchRows")
          m.filter(col("ckptId") === ckptId)
            .select((col("epochId") +: cols.map(c => col(c).cast("double"))): _*)
            .collect().map { r =>
              r.getLong(0) -> cols.zipWithIndex.map { case (c, i) =>
                c -> (if (r.isNullAt(i + 1)) 0.0 else r.getDouble(i + 1)) }.toMap
            }.toMap
        }
      val folds =
        if (!m.columns.contains("op")) Nil
        else m.filter(col("op") === "fold" && col("snapshotVersion") > foldsAfter)
          .select(col("foldMs").cast("double"), col("rowsRewritten").cast("double"))
          .collect().map(r => (r.getDouble(0), r.getDouble(1))).toSeq
      (merges, folds)
    } finally { m.unpersist(); () }
  }

  def join(progress: Seq[StreamingQueryProgress],
      merges: Map[Long, Map[String, Double]]): Seq[Epoch] =
    progress.map { p =>
      val durs = p.durationMs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
      Epoch(p.batchId, java.time.Instant.parse(p.timestamp).toEpochMilli.toDouble,
        p.numInputRows, durs, merges.get(p.batchId))
    }

  /** Spans for the joined records: Spark reports phase durations, not start
    * times, so phases are laid out in execution order from the trigger start. */
  def spans(tracer: Tracer, epochs: Seq[Epoch], parent: String): Unit = epochs.foreach { e =>
    tracer.add(Span("stream.epoch", e.startMs, e.startMs + e.trigger, parent))
    var t = e.startMs
    StreamPhases.foreach { ph =>
      val len = e.d(ph)
      tracer.add(Span(s"stream.$ph", t, t + len, "stream.epoch"))
      if (ph == "addBatch" && e.merge.isDefined) {
        tracer.add(Span("merge.wall", t, t + e.m("wallMs"), "stream.addBatch"))
        var u = t
        Seq("statsMs" -> "merge.stats", "writeMs" -> "merge.write",
          "footerMs" -> "merge.footer", "commitMs" -> "merge.commit").foreach {
          case (k, n) =>
            tracer.add(Span(n, u, u + e.m(k), "merge.wall")); u += e.m(k)
        }
      }
      t += len
    }
  }

  /** Per-layer figures over a set of epochs (medians per epoch). */
  def layerMetrics(epochs: Seq[Epoch]): Map[String, Double] = {
    def med(f: Epoch => Double) =
      if (epochs.isEmpty) 0.0 else Stats.median(epochs.map(f))
    val merged = epochs.filter(_.merge.isDefined)
    def mmed(f: Epoch => Double) =
      if (merged.isEmpty) 0.0 else Stats.median(merged.map(f))
    Map(
      "stream.epochs" -> epochs.size.toDouble,
      "stream.epoch_ms" -> med(_.trigger),
      "stream.latestOffset_ms" -> med(_.d("latestOffset")),
      "stream.getBatch_ms" -> med(_.d("getBatch")),
      "stream.queryPlanning_ms" -> med(_.d("queryPlanning")),
      "stream.walCommit_ms" -> med(_.d("walCommit")),
      "stream.addBatch_ms" -> med(_.addBatch),
      "stream.fixed_ms" -> med(_.fixed),
      "stream.foreach_residual_ms" -> mmed(e => e.addBatch - e.m("wallMs")),
      "merge.wall_ms" -> mmed(_.m("wallMs")),
      "merge.stats_ms" -> mmed(_.m("statsMs")),
      "merge.write_ms" -> mmed(_.m("writeMs")),
      "merge.footer_ms" -> mmed(_.m("footerMs")),
      "merge.commit_ms" -> mmed(_.m("commitMs")),
      "merge.files_added" -> mmed(_.m("filesAdded")),
      "merge.out_per_in" -> mmed(e =>
        if (e.m("batchRows") > 0) e.m("outputRows") / e.m("batchRows") else 0.0),
      "trace.residual_ms" -> med(_.residual))
  }
}

/** JVM-wide counters sampled around the measured window. */
final class JvmWindow {
  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum
  private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == java.lang.management.MemoryType.HEAP)
  private val gc0 = gcMs
  heapPools.foreach(_.resetPeakUsage())
  def gcSpentMs: Double = (gcMs - gc0).toDouble
  def heapPeakMb: Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
}

/**
 * Independent ingest oracle: a plain SQL max-lsn fold over the WAL, reduced
 * to a (count, xor-of-row-hashes) signature over every payload column. It
 * shares no code with the engine's own conflict resolution.
 */
object Oracle {
  val PayloadCols = Seq("conv_id", "turn_idx", "role", "text", "tool", "ts", "tool_meta")

  def walSignature(spark: SparkSession, walDirs: Seq[String]): (Long, Long) = {
    spark.read.schema(graft.model.Schemas.changeV2)
      .option("recursiveFileLookup", "true").parquet(walDirs: _*)
      .createOrReplaceTempView("perfbench_wal")
    val r = spark.sql(
      s"""SELECT count(*), coalesce(bit_xor(xxhash64(${PayloadCols.mkString(", ")})), 0)
         |FROM (SELECT *, row_number() OVER (PARTITION BY conv_id, turn_idx
         |                                   ORDER BY lsn DESC) AS rn
         |      FROM perfbench_wal)
         |WHERE rn = 1 AND op <> 'D'""".stripMargin).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Same signature over a table read through the public DSv2 face; a read
    * that fails yields None (a failed check, not an aborted run). */
  def tableSignature(spark: SparkSession, tableDir: String): Option[(Long, Long)] =
    try Some(signatureOf(spark, tableDir)) catch {
      case e: Exception =>
        Console.err.println(s"[perfbench] reading $tableDir failed: $e")
        None
    }

  private def signatureOf(spark: SparkSession, tableDir: String): (Long, Long) = {
    val t = spark.read.format("graft").load(tableDir)
    val cols = PayloadCols.map(c => if (t.columns.contains(c)) col(c) else lit(null).cast("string").as(c))
    val r = t.select(cols: _*)
      .agg(count(lit(1)), coalesce(bit_xor(xxhash64(cols.indices.map(i => col(PayloadCols(i))): _*)), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }
}

/** Filesystem helpers. */
object Fs {
  def rm(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).foreach(rm)
    f.delete(); ()
  }

  /** Committed parquet files under dir. Tolerates files and directories that
    * vanish during the walk (a concurrent writer's `_temporary` staging) and
    * skips staging and hidden entries. */
  def parquetFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    val out = Seq.newBuilder[Path]
    if (Files.exists(root))
      Files.walkFileTree(root, new java.nio.file.SimpleFileVisitor[Path] {
        override def preVisitDirectory(d: Path, a: java.nio.file.attribute.BasicFileAttributes) = {
          val n = d.getFileName.toString
          if (d != root && (n.startsWith("_") || n.startsWith(".")))
            java.nio.file.FileVisitResult.SKIP_SUBTREE
          else java.nio.file.FileVisitResult.CONTINUE
        }
        override def visitFile(f: Path, a: java.nio.file.attribute.BasicFileAttributes) = {
          if (a.isRegularFile && f.getFileName.toString.endsWith(".parquet")) out += f
          java.nio.file.FileVisitResult.CONTINUE
        }
        override def visitFileFailed(f: Path, e: java.io.IOException) =
          java.nio.file.FileVisitResult.CONTINUE
        override def postVisitDirectory(d: Path, e: java.io.IOException) =
          java.nio.file.FileVisitResult.CONTINUE
      })
    out.result()
  }

  def size(p: Path): Long = try Files.size(p) catch { case _: java.io.IOException => 0L }

  /** Remembers the size of every data file ever seen under a table's data
    * dir, so files a later vacuum removes still count as written. */
  final class WrittenBytes(tableDir: String) {
    private val seen = scala.collection.concurrent.TrieMap.empty[String, Long]
    def scan(): Unit = parquetFiles(s"$tableDir/data").foreach { p =>
      val k = p.toString
      if (!seen.contains(k)) { val n = size(p); if (n > 0) seen.put(k, n) }
    }
    def total: Long = seen.values.sum
  }

  /** Bytes of the files the table's current snapshot references. */
  def liveBytes(t: graft.lake.LakeTable): Long =
    t.currentFiles.map(f => size(Paths.get(java.net.URI.create(
      if (f.path.contains(":")) f.path else "file:" + f.path)))).sum

  /** Replace every live row's text in one data file of the table (self-test
    * corruption): a valid parquet file whose content no longer matches. */
  def corruptOneFile(spark: SparkSession, t: graft.lake.LakeTable, work: String): String = {
    val target = t.currentFiles.filter(_.rows > 0).maxBy(_.rows).path
    val tmp = s"$work/corrupt-tmp"
    spark.read.parquet(target).withColumn("text", concat(col("text"), lit("~")))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = parquetFiles(tmp).head
    val dest = Paths.get(java.net.URI.create(
      if (target.contains(":")) target else "file:" + target))
    Files.move(part, dest, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // drop the checksum sidecar so the reader sees a valid file whose content
    // is wrong, which only the oracle comparison can catch
    Files.deleteIfExists(dest.resolveSibling(s".${dest.getFileName}.crc"))
    rm(new java.io.File(tmp))
    target
  }
}

/** Minimal JSON writer (no dependency beyond the JDK). */
object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
    case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
  } + "\""
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
  def nums(m: Map[String, Double]): String =
    obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> num(v) })
}

/** Files a DSv2 point lookup on the first key column reads: the table's
  * manifest-level pruning (`LakeTable.filesIntersecting`) followed by the
  * per-file key-bound test the scan applies. The scan itself runs inside a
  * V1 relation whose inner file scan is not visible in the outer plan. */
object Lookup {
  import graft.lake.{KeyCodec, LakeTable, Snapshot}
  def filesScanned(t: LakeTable, snap: Snapshot, key: String): Long = {
    val k = KeyCodec.encode(org.apache.spark.sql.types.StringType, key)
    t.filesIntersecting(snap, k, k).count(f => f.minKey == null || f.maxKey == null ||
      (KeyCodec.compare(f.maxKey, k) >= 0 && KeyCodec.compare(f.minKey, k) <= 0)).toLong
  }
}
