package perfbench

import org.apache.spark.sql.streaming.Trigger

import graft.gen.{ChangelogGen, GenParams}
import graft.lake.{Compaction, LakeTable}
import graft.merge.MergeInto
import graft.stream.{CdcIngestJob, IngestConfig}

/**
 * `ingest_bulk`, one width: closed-loop catch-up of a pre-generated WAL with
 * `CdcIngestJob` AvailableNow into a fresh merge-on-read table, then the
 * maintenance drain and one explicit delta fold. Warm-up catch-ups come
 * first and are neither measured nor checked. The number of timed reps is
 * fixed by the caller, so every run sits at the same point of the JIT
 * warm-up curve; each timed rep writes its WAL afresh (its set-up) and is
 * checked against the SQL oracle.
 */
object Bulk {
  /** The `graft.Bench` scaling shape (hot key, duplicates, late events,
    * deletes and schema evolution at the generator defaults), with the file
    * size rounded up so the WAL is exactly 128 files and every epoch is full. */
  def params(seed: Long, nEvents: Long): GenParams =
    GenParams(seed = seed, nEvents = nEvents, nConvs = (nEvents / 200).toInt.max(100),
      eventsPerFile = math.max(1L, (nEvents + 127) / 128), maxLateEvents = 2000)

  /** files per epoch: 4 epochs per catch-up */
  val FilesPerTrigger = 32
  /** untimed catch-ups that warm the JVM before the timed reps: throughput
    * still climbs over the first few catch-ups as the JIT settles */
  val WarmReps = 2

  def run(a: Args): Result = {
    val res = new Result
    val p = params(a.seed, a.events)
    val spark = Session.make(a.cores, a.work)
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val tracer = new Tracer(a.runId)
    res.put("spark_version", spark.version)
    var walSig: Option[(Long, Long)] = None
    val eps = Seq.newBuilder[Double]
    val epochP50 = Seq.newBuilder[Double]
    val epochP95 = Seq.newBuilder[Double]
    val setups = Seq.newBuilder[Double]
    val allEpochs = Seq.newBuilder[Epoch]
    var window: JvmWindow = null
    val warmWal = s"${a.work}/wal-warm"
    ChangelogGen.writeWal(spark, p, warmWal)

    (0 until WarmReps + a.reps).foreach { rep =>
      val timed = rep >= WarmReps
      val tag = if (timed) s"rep${rep - WarmReps + 1}" else s"warm${rep + 1}"
      val table = s"${a.work}/table-$rep"
      val ckpt = s"${a.work}/ckpt-$rep"
      // set-up of a timed rep: its own WAL, unless the run reuses one
      val wal = if (timed && a.regenPerRep) s"${a.work}/wal-$rep" else warmWal
      val s0 = System.nanoTime()
      if (wal != warmWal)
        tracer.span("gen.write_wal", "setup")(ChangelogGen.writeWal(spark, p, wal))
      val setupS = (System.nanoTime() - s0) / 1e9
      progress.clear()
      System.gc()
      if (rep == WarmReps) window = new JvmWindow
      // measured: stream + maintenance drain + final fold
      val t0 = System.nanoTime()
      tracer.span("ingest.catchup") {
        tracer.span("stream.run", "ingest.catchup") {
          CdcIngestJob.start(spark, IngestConfig(wal, table, ckpt,
            maxFilesPerTrigger = Some(FilesPerTrigger)), Trigger.AvailableNow())
            .awaitTermination()
        }
        tracer.span("lake.await_maintenance", "ingest.catchup")(MergeInto.awaitMaintenance())
        tracer.span("lake.fold", "ingest.catchup")(
          Compaction.foldDeltas(spark, LakeTable.load(table), rangePlace = false))
      }
      val wallS = (System.nanoTime() - t0) / 1e9
      res.line(f"bulk w=${a.cores} $tag setup=${setupS}%.2fs wall=${wallS}%.2fs " +
        f"eps=${p.nEvents / wallS}%.0f")
      if (timed) {
        // after the window: join records, size the table, verify
        val t = LakeTable.load(table)
        val (merges, folds) = Epochs.records(spark, t, CdcIngestJob.ckptId(ckpt))
        val epochs = Epochs.join(progress.dataBatches, merges)
        val written = new Fs.WrittenBytes(table)
        written.scan()
        val walBytes = Fs.parquetFiles(wal).map(Fs.size).sum
        val liveBytes = Fs.liveBytes(t)
        if (walSig.isEmpty) walSig = Some(Oracle.walSignature(spark, Seq(wal)))
        if (a.corrupt) res.note(s"corrupted ${Fs.corruptOneFile(spark, t, a.work)}")
        val got = Oracle.tableSignature(spark, table)
        res.attempt()
        if (got != walSig) res.fail(s"$tag: table signature $got != oracle ${walSig.get}")
        eps += p.nEvents / wallS
        setups += setupS
        res.line(s"bulk w=${a.cores} $tag epoch trigger ms: " +
          epochs.map(e => f"${e.trigger}%.0f").mkString(" "))
        epochP50 += Stats.median(epochs.map(_.trigger))
        epochP95 += Stats.p95(epochs.map(_.trigger))
        allEpochs ++= epochs
        if (a.trace) Epochs.spans(tracer, epochs, parent = "stream.run")
        val snap = t.currentSnapshot
        res.sample("write_amp", written.total.toDouble / walBytes)
        res.sample("space_amp", liveBytes.toDouble / walBytes)
        res.sample("lake.bytes_written", written.total.toDouble)
        res.sample("lake.table_bytes", liveBytes.toDouble)
        res.sample("lake.snapshots", (snap.version + 1).toDouble)
        res.sample("lake.manifests", snap.manifests.size.toDouble)
        res.sample("lake.delta_files_at_read", snap.manifests.map(_.deltaFiles).sum.toDouble)
        res.sample("fold.count", folds.size.toDouble)
        res.sample("fold.ms", folds.map(_._1).sum)
        res.sample("fold.rows_rewritten", folds.map(_._2).sum)
        if (rep == WarmReps + a.reps - 1) {
          val vac0 = System.nanoTime()
          val (filesDeleted, _) = tracer.span("lake.vacuum")(
            Compaction.vacuum(t, retainVersions = 1, orphanMinAgeMs = 0L))
          res.metric("vacuum.ms", (System.nanoTime() - vac0) / 1e6)
          res.metric("vacuum.files_deleted", filesDeleted.toDouble)
        }
      }
      // delete while the files are young: data removed before writeback
      // never reaches the disk, so it does not slow the next reps
      val lastUse = rep == WarmReps + a.reps - 1 || (rep == WarmReps - 1 && a.regenPerRep)
      (Seq(table, ckpt) ++ (if (wal != warmWal || lastUse) Seq(wal) else Nil))
        .foreach(d => Fs.rm(new java.io.File(d)))
    }
    res.seq("eps_samples", eps.result())
    res.seq("epoch_p50_ms_samples", epochP50.result())
    res.seq("epoch_p95_ms_samples", epochP95.result())
    res.seq("setup_s_samples", setups.result())
    res.metrics(Epochs.layerMetrics(allEpochs.result()))
    res.metric("jvm.gc_ms", window.gcSpentMs)
    res.metric("jvm.heap_peak_mb", window.heapPeakMb)
    if (a.trace) res.trace(tracer, a)
    spark.stop()
    res
  }
}
