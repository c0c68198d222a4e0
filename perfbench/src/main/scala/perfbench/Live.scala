package perfbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.Trigger

import graft.gen.{ChangelogGen, GenParams}
import graft.lake.{Compaction, LakeTable}
import graft.merge.MergeInto
import graft.stream.{CdcIngestJob, ChangeFeed, IngestConfig}

/**
 * `ingest_live`: an open-loop writer beside a closed-loop reader. WAL files
 * are released into the watched directory on a fixed schedule that never
 * waits for the engine; a `ProcessingTime` ingest (async folds, periodic
 * vacuum) tails them; one reader issues DSv2 point lookups on `conv_id`; one
 * `ChangeFeed` consumer copies the table downstream.
 *
 * Freshness is exact: files are released in index order, each stamped with
 * its release time, and every file's max LSN is strictly above every earlier
 * file's (asserted at set-up). A file is therefore visible exactly when the
 * table's max LSN reaches the file's max LSN, which a poller thread of the
 * benchmark watches.
 */
object Live {
  /** WAL files released per second. A rate sweep at this trigger interval
    * (NOTES.md) sustained 40 files/s; 10 is a quarter of that, so freshness
    * measures per-epoch cost with room for a slower engine, not a backlog
    * that grows for the whole window. */
  val FilesPerSec = 10
  val ReleaseIntervalMs: Double = 1000.0 / FilesPerSec
  /** Below the epoch time at every rate of the sweep (266 ms at 5 files/s),
    * so epochs run back to back and no file waits on an idle trigger. */
  val TriggerMs = 200L
  /** Async folds that must run inside the window, else it did not exercise
    * concurrent folds and fails. */
  val MinFolds = 2

  /** `baseFiles` of the live key space (`nConvs` x 50 turns) preload the
    * table, so its base holds nearly every key from the start and the ratio
    * trigger (delta rows > 2 x base rows) fires at a steady cadence. */
  final case class Shape(eventsPerFile: Long, baseFiles: Int, nConvs: Int, setups: Int)

  def shape(a: Args): Shape =
    if (a.tiny) Shape(200, 3, 10, 1)
    else Shape(1000, 30, 200, 2)

  final case class WalFile(idx: Int, path: Path, rel: Path, maxLsn: Long, bytes: Long)

  final case class Prepared(dir: String, table: String, baseWal: String,
      feed: ChangeFeed.Config, files: Seq[WalFile])

  def run(a: Args): Result = {
    val res = new Result
    val sh = shape(a)
    val liveFiles = math.ceil(a.seconds * FilesPerSec).toInt
    val p = GenParams(seed = a.seed, nEvents = (sh.baseFiles + liveFiles) * sh.eventsPerFile,
      nConvs = sh.nConvs, eventsPerFile = sh.eventsPerFile,
      // late events reach back at most a quarter file, so every file's max
      // LSN stays above the previous file's (asserted in `prepare`)
      maxLateEvents = (sh.eventsPerFile / 4).toInt)
    val spark = Session.make(a.cores, a.work)
    res.put("spark_version", spark.version)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val tracer = new Tracer(a.runId)

    // set-up, repeated; the last one is used, the earlier ones are deleted
    // while young (before writeback, so the deletion costs no disk I/O)
    val setupS = Seq.newBuilder[Double]
    var prep: Prepared = null
    (1 to sh.setups).foreach { k =>
      val s0 = System.nanoTime()
      val next = tracer.span("setup")(prepare(spark, a, p, sh, s"${a.work}/setup-$k", tracer))
      setupS += (System.nanoTime() - s0) / 1e9
      if (prep != null) Fs.rm(new java.io.File(prep.dir))
      prep = next
    }
    val table = LakeTable.load(prep.table)
    val baseRows = table.currentSnapshot.manifests.map(_.rows).sum
    val liveWal = prep.files.filter(_.idx >= sh.baseFiles)
    val watch = s"${prep.dir}/watch"
    Files.createDirectories(Paths.get(watch))

    // ---- the measured window -------------------------------------------
    progress.clear()
    val written = new Fs.WrittenBytes(prep.table)
    written.scan()
    val bytesBefore = written.total
    val versionBefore = table.currentVersion
    val ckpt = s"${prep.dir}/ckpt-live"
    val q = CdcIngestJob.start(spark, IngestConfig(watch, prep.table, ckpt,
      vacuumEveryEpochs = Some(10)), Trigger.ProcessingTime(TriggerMs))
    val window = new JvmWindow
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t0 = System.currentTimeMillis() + 200
    val windowEnd = t0 + (a.seconds * 1000).toLong
    def due(i: Int): Double = t0 + i * ReleaseIntervalMs
    val released = new AtomicInteger(0)
    val late = new ConcurrentLinkedQueue[Double]
    val visibleAt = new Array[Double](liveWal.size)
    val visible = new AtomicInteger(0)
    var backlogMax = 0

    val generator = thread("gen", res) {
      liveWal.indices.foreach { i =>
        val wait = due(i) - System.currentTimeMillis()
        if (wait > 0) Thread.sleep(wait.toLong)
        val f = liveWal(i)
        val now = System.currentTimeMillis()
        val dest = Paths.get(watch).resolve(f.rel)
        Files.createDirectories(dest.getParent)
        Files.setLastModifiedTime(f.path, java.nio.file.attribute.FileTime.fromMillis(now))
        Files.move(f.path, dest, StandardCopyOption.ATOMIC_MOVE)
        released.incrementAndGet()
        late.add(System.currentTimeMillis() - due(i))
        if (a.trace) tracer.add(Span("gen.release", due(i), System.currentTimeMillis(), ""))
      }
    }
    val poller = thread("poll", res) {
      val t = LakeTable.load(prep.table)
      var lastV = -1L
      var lastScan = 0L
      while (!stop.get && visible.get < liveWal.size) {
        val v = t.currentVersion
        if (v != lastV) {
          val m = try t.maxLsn(t.snapshot(v)) catch { case _: IllegalStateException => -1L }
          val now = System.currentTimeMillis().toDouble
          while (visible.get < released.get && liveWal(visible.get).maxLsn <= m) {
            visibleAt(visible.get) = now
            visible.incrementAndGet()
          }
          lastV = v
        }
        backlogMax = math.max(backlogMax, released.get - visible.get)
        if (System.currentTimeMillis() - lastScan > 100) {
          written.scan(); lastScan = System.currentTimeMillis()
        }
        Thread.sleep(2)
      }
    }
    val reads = new ConcurrentLinkedQueue[(Double, Double, Long, Long, Long)]
    val reader = thread("reader", res) {
      val rng = new scala.util.Random(a.seed)
      while (System.currentTimeMillis() < t0) Thread.sleep(1)
      while (System.currentTimeMillis() < windowEnd) {
        // reads follow the writes' skew: the hot key's share of lookups is
        // its share of events
        val key = if (rng.nextDouble() < p.hotFrac) "conv_hot"
          else f"conv_${rng.nextInt(sh.nConvs - 1) + 1}%06d"
        val snap = table.currentSnapshot
        val s0 = System.nanoTime()
        val df = spark.read.format("graft").load(prep.table).filter(col("conv_id") === key)
        df.queryExecution.executedPlan
        val s1 = System.nanoTime()
        df.collect()
        val s2 = System.nanoTime()
        reads.add((Stats.ms(s0, s1), Stats.ms(s1, s2), Lookup.filesScanned(table, snap, key),
          snap.manifests.map(_.files.toLong).sum, snap.manifests.map(_.deltaFiles.toLong).sum))
        if (a.trace) {
          val now = System.currentTimeMillis().toDouble
          val total = Stats.ms(s0, s2)
          tracer.add(Span("dsv2.lookup", now - total, now, ""))
          tracer.add(Span("dsv2.plan", now - total, now - total + Stats.ms(s0, s1), "dsv2.lookup"))
          tracer.add(Span("dsv2.exec", now - Stats.ms(s1, s2), now, "dsv2.lookup"))
        }
      }
    }
    val polls = new ConcurrentLinkedQueue[(Double, Long, Long)]
    val feed = thread("feed", res) {
      while (!stop.get) {
        val s0 = System.nanoTime()
        val n = tracer.span("feed.poll")(ChangeFeed.pollOnce(spark, prep.feed))
        val lag = table.currentVersion - ChangeFeed.readCursor(prep.feed.cursorPath).getOrElse(0L)
        polls.add((Stats.ms(s0, System.nanoTime()), n, lag))
        Thread.sleep(200)
      }
    }
    generator.join()
    val drainDeadline = System.currentTimeMillis() + 60000
    while (visible.get < liveWal.size && q.isActive &&
        System.currentTimeMillis() < drainDeadline)
      Thread.sleep(5)
    reader.join()
    stop.set(true)
    poller.join(); feed.join()
    val windowS = (System.currentTimeMillis() - t0) / 1000.0
    q.exception.foreach(e => res.fail(s"ingest stream failed: ${e.getMessage.take(500)}"))
    q.stop()
    MergeInto.awaitMaintenance()
    val gcMs = window.gcSpentMs
    val heapMb = window.heapPeakMb
    written.scan()

    // ---- after the window: records, verification -------------------------
    if (visible.get < liveWal.size)
      res.fail(s"only ${visible.get} of ${liveWal.size} released files became visible")
    val fresh = liveWal.indices.take(visible.get).map(i => visibleAt(i) - due(i))
    val (merges, folds) = Epochs.records(spark, table, CdcIngestJob.ckptId(ckpt), versionBefore)
    val epochs = Epochs.join(progress.dataBatches, merges)
    if (a.trace) {
      Epochs.spans(tracer, epochs, parent = "")
      epochs.foreach(e => res.line(f"epoch ${e.batchId}%4d rows=${e.inputRows}%6d " +
        f"trigger=${e.trigger}%6.0f fixed=${e.fixed}%6.0f addBatch=${e.addBatch}%6.0f " +
        f"merge.wall=${e.m("wallMs")}%6.0f residual_ms=${e.residual}%6.0f"))
    }
    ChangeFeed.catchUp(spark, prep.feed)
    val vac0 = System.nanoTime()
    val (vacFiles, _) = tracer.span("lake.vacuum")(Compaction.vacuum(table, retainVersions = 8))
    val vacMs = (System.nanoTime() - vac0) / 1e6
    if (a.corrupt) res.note(s"corrupted ${Fs.corruptOneFile(spark, table, a.work)}")
    val want = Oracle.walSignature(spark, Seq(prep.baseWal, watch))
    val up = Oracle.tableSignature(spark, prep.table)
    val down = Oracle.tableSignature(spark, prep.feed.downstreamDir)
    if (!up.contains(want)) res.fail(s"upstream table signature $up != oracle $want")
    if (down != up) res.fail(s"change-feed downstream signature $down != upstream $up")
    res.attempt(3)

    // the schedule was kept, and the window exercised concurrent folds:
    // otherwise the freshness figures do not measure what they claim
    val lateP95 = Stats.p95(late.asScala.toSeq)
    if (lateP95 > ReleaseIntervalMs)
      res.fail(f"run invalid: generator released files late, p95 ${lateP95}%.0f ms > " +
        f"the ${ReleaseIntervalMs}%.0f ms release interval")
    if (folds.size < MinFolds)
      res.fail(s"run invalid: ${folds.size} async folds inside the window, fewer than $MinFolds")
    res.attempt(2)
    // share of the window the stream spent inside epochs
    val busy = epochs.map(_.trigger).sum / (windowS * 1000)

    val walBytes = liveWal.map(_.bytes).sum.toDouble
    val rs = reads.asScala.toSeq
    val ps = polls.asScala.toSeq
    val busyPolls = ps.filter(_._2 > 0)
    val readMs = rs.map(r => r._1 + r._2)
    res.seq("fresh_ms_samples", fresh)
    res.seq("read_ms_samples", readMs)
    res.seq("setup_s_samples", setupS.result())
    res.metric("lookups_per_s", rs.size / a.seconds)
    res.metric("fresh_p50_ms", Stats.median(fresh))
    res.metric("fresh_p95_ms", Stats.p95(fresh))
    res.metric("read_p50_ms", Stats.median(readMs))
    res.metric("read_p95_ms", Stats.p95(readMs))
    res.metric("write_amp", (written.total - bytesBefore) / walBytes)
    res.metrics(Epochs.layerMetrics(epochs))
    res.metric("stream.backlog_files_max", backlogMax.toDouble)
    res.metric("fold.count", folds.size.toDouble)
    res.metric("fold.ms", folds.map(_._1).sum)
    res.metric("fold.rows_rewritten", folds.map(_._2).sum)
    res.metric("vacuum.ms", vacMs)
    res.metric("vacuum.files_deleted", vacFiles.toDouble)
    res.metric("lake.bytes_written", (written.total - bytesBefore).toDouble)
    res.metric("lake.table_bytes", Fs.liveBytes(table).toDouble)
    res.metric("lake.snapshots", (table.currentVersion - versionBefore).toDouble)
    res.metric("lake.manifests", table.currentSnapshot.manifests.size.toDouble)
    res.metric("lake.delta_files_at_read", Stats.median(rs.map(_._5.toDouble)))
    res.metric("dsv2.plan_ms", Stats.median(rs.map(_._1)))
    res.metric("dsv2.exec_ms", Stats.median(rs.map(_._2)))
    res.metric("dsv2.files_scanned", Stats.median(rs.map(_._3.toDouble)))
    res.metric("dsv2.prune_ratio", Stats.median(rs.map(r => r._3.toDouble / math.max(1L, r._4))))
    res.metric("feed.poll_ms", if (busyPolls.isEmpty) 0.0 else Stats.median(busyPolls.map(_._1)))
    res.metric("feed.versions_per_poll",
      if (busyPolls.isEmpty) 0.0 else Stats.median(busyPolls.map(_._2.toDouble)))
    res.metric("feed.lag_versions_max", if (ps.isEmpty) 0.0 else ps.map(_._3).max.toDouble)
    res.metric("gen.release_late_p95_ms", lateP95)
    res.metric("stream.busy_frac", busy)
    res.metric("jvm.gc_ms", gcMs)
    res.metric("jvm.heap_peak_mb", heapMb)
    res.line(f"live window=${windowS}%.1fs base_rows=$baseRows files=${liveWal.size} " +
      f"epochs=${epochs.size} busy=${busy}%.2f folds=${folds.size} " +
      f"release_late_p95=${lateP95}%.0fms lookups=${rs.size} polls=${ps.size} " +
      f"fresh p50/p95=${Stats.median(fresh)}%.0f/${Stats.p95(fresh)}%.0f ms " +
      f"read p50/p95=${Stats.median(readMs)}%.1f/${Stats.p95(readMs)}%.1f ms")
    if (a.trace) res.trace(tracer, a)
    spark.stop()
    res
  }

  /** Generate the WAL, preload and fold the base table, bootstrap the feed,
    * and stage the live files for release. */
  private def prepare(spark: SparkSession, a: Args, p: GenParams, sh: Shape,
      dir: String, tracer: Tracer): Prepared = {
    val staging = s"$dir/staging"
    val baseWal = s"$dir/basewal"
    val table = s"$dir/table"
    tracer.span("gen.write_wal", "setup")(ChangelogGen.writeWal(spark, p, staging))
    val maxLsn = new Array[Long](p.nFiles)
    java.util.Arrays.fill(maxLsn, -1L)
    var i = 0L
    while (i < p.nEvents) {
      val f = ChangelogGen.fileIdx(p, i)
      maxLsn(f) = math.max(maxLsn(f), ChangelogGen.logicalIdx(p, i))
      i += 1
    }
    (1 until p.nFiles).foreach { f =>
      require(maxLsn(f) > maxLsn(f - 1),
        s"WAL file $f max lsn ${maxLsn(f)} is not above file ${f - 1}'s ${maxLsn(f - 1)}")
    }
    val root = Paths.get(staging)
    val files = Fs.parquetFiles(staging).map { path =>
      val rel = root.relativize(path)
      val idx = rel.iterator().asScala.map(_.toString)
        .collectFirst { case s if s.startsWith("wal_file=") => s.stripPrefix("wal_file=").toInt }
        .getOrElse(throw new IllegalStateException(s"no wal_file dir in $rel"))
      WalFile(idx, path, rel, maxLsn(idx), Fs.size(path))
    }.sortBy(_.idx)
    require(files.map(_.idx) == (0 until p.nFiles),
      s"expected one WAL file per index, got ${files.map(_.idx)}")
    files.filter(_.idx < sh.baseFiles).foreach { f =>
      val dest = Paths.get(baseWal).resolve(f.rel)
      Files.createDirectories(dest.getParent)
      Files.move(f.path, dest)
    }
    tracer.span("setup.preload", "setup") {
      CdcIngestJob.start(spark, IngestConfig(baseWal, table, s"$dir/ckpt-base"),
        Trigger.AvailableNow()).awaitTermination()
      MergeInto.awaitMaintenance()
      Compaction.foldDeltas(spark, LakeTable.load(table))
    }
    val feed = ChangeFeed.Config(table, s"$dir/downstream", s"$dir/feed-cursor")
    tracer.span("setup.feed_bootstrap", "setup")(ChangeFeed.bootstrap(spark, feed))
    Prepared(dir, table, baseWal, feed, files)
  }

  /** A worker whose failure fails the run instead of vanishing. */
  private def thread(name: String, res: Result)(body: => Unit): Thread = {
    val t = new Thread(() =>
      try body catch { case e: Throwable => res.fail(s"$name thread: $e") },
      s"perfbench-$name")
    t.setDaemon(true)
    t.start()
    t
  }
}
