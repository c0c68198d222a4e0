package graft.stream

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import org.apache.spark.sql.types.StructType

import graft.lake.LakeTable
import graft.merge.{MergeInto, MergeOptions}
import graft.model.Schemas

/**
 * The flagship pipeline (north rule): tail a WAL/binlog-style append-only
 * directory of change files, deduplicate by lsn within a watermark, and apply
 * key-partitioned MERGE upserts to the lake table with exactly-once commits.
 *
 * This replaces the reference's whole pipeline-stage model
 * (/root/reference/pipeline.go:20-27: stages of goroutines joined by
 * channels) with one declarative Structured Streaming job:
 *
 *   readStream.parquet(wal)                       — source stage (S3Reader /
 *     IoReader analogue, /root/reference/processors/s3_reader.go:40-47);
 *     `maxFilesPerTrigger` is the batching/backpressure knob the reference
 *     implements with bounded channels (/root/reference/pipeline.go:182-184)
 *   .withWatermark(ts).dropDuplicatesWithinWatermark(lsn)
 *                                                 — bounded-state dedup; dups
 *     beyond the watermark are still resolved by the idempotent max-LSN merge
 *   .writeStream.foreachBatch(MergeInto.merge)    — the SQLWriter upsert stage
 *     (/root/reference/processors/sql_writer.go:44-68), made exactly-once by
 *     the (checkpointId, epochId) ledger instead of at-least-once
 *   checkpointLocation                            — offsets WAL; restart
 *     resumes from the last committed epoch (the reference restarts from
 *     scratch — SURVEY.md §2.6 "Streaming")
 *
 * Watermark sizing: `watermarkDelay` must exceed the max event-time lateness
 * an event can have relative to the newest event already read, otherwise the
 * dedup operator may treat it as too-late. Correctness does not depend on
 * this (the merge converges regardless); only streaming-dedup state size does.
 *
 * Schema evolution: the source schema is fixed at query start, so a restart
 * (with the widened schema) picks up newly added columns — same contract as
 * Iceberg streaming reads. Old files read as null for added columns.
 */
final case class IngestConfig(
    walDir: String,
    tableDir: String,
    checkpointDir: String,
    schema: StructType = Schemas.changeV2,
    watermarkCol: String = "ts",
    watermarkDelay: String = "2 hours",
    /** Optional stateful lsn-dedup BEFORE the merge. Default OFF: the merge's
      * max-lsn resolution already collapses redelivered (key, lsn) rows —
      * identical records by the WAL contract — so the state store shuffle,
      * per-epoch state maintenance, and the localCheckpoint to avoid
      * re-executing it are pure overhead (measured ~1.8x ingest throughput
      * when removed). Enable only when a downstream consumer taps the deduped
      * stream itself rather than the table. */
    streamDedup: Boolean = false,
    maxFilesPerTrigger: Option[Int] = None,
    /** Read-partition size for batch scans. The default 128 MiB packs small
      * WAL files into a handful of read partitions, capping every epoch's
      * map side (stats pass, dedup shuffle write, merge scan) at that
      * parallelism no matter how many cores exist — measured as THE scaling
      * bottleneck. 16 MiB keeps typical binlog segments one-per-task.
      *
      * NOTE: one of the stream session settings
      * (`CdcIngestJob.sessionSettings`) that `start` applies to the shared
      * session config and leaves in place (micro-batch planning re-reads
      * them every epoch, so they cannot be scoped to the stream). The other
      * is `spark.sql.sources.parallelPartitionDiscovery.threshold` =
      * Int.MaxValue when the WAL sits on the local filesystem, so each
      * epoch's WAL listing runs on the driver instead of as a Spark job.
      * While applied, lake reads in the same session of more than 32 files
      * list on the driver too. `drainAvailableNow` restores every applied
      * setting to its prior value when the stream ends. Pass None to leave
      * `maxPartitionBytes` untouched. */
    maxPartitionBytes: Option[Long] = Some(16L * 1024 * 1024),
    /** merge-on-read by default: a streaming epoch writes O(batch) delta
      * files, never a copy-on-write rewrite of the table (see MergeMode) —
      * and trigger-fired folds run OUT-OF-BAND (foldAsync): a stream must
      * never stall an epoch behind an O(table) fold (see MergeOptions) */
    mergeOptions: MergeOptions =
      MergeOptions(mode = graft.merge.MergeMode.Mor, foldAsync = true),
    /** consumed-source handling — the reference S3Reader's delete-after-read
      * (/root/reference/processors/s3_reader.go): "delete" removes WAL files
      * once their batch is committed, "archive" moves them aside, "off"
      * (default) leaves them. Safe only when this job is the sole consumer. */
    cleanSource: String = "off",
    /** archive target for cleanSource = "archive" */
    sourceArchiveDir: Option[String] = None,
    /** Run `Compaction.vacuum` every N committed epochs (None = never, the
      * default — retention is destructive, so it is opt-in). Executes on the
      * out-of-band maintenance thread, never inside the epoch: a long-lived
      * ingest otherwise accumulates one snapshot + manifest per epoch
      * forever. `vacuumRetainVersions` counts snapshot VERSIONS, not
      * epochs: async fold commits (and fold retries) consume version slots
      * too, so downstream change-feed consumers
      * ([[graft.stream.ChangeFeed]]) get a catch-up window somewhat SHORTER
      * than this many epochs — size it with the table's fold cadence in
      * mind (folds land at most once per ratio/file-count trigger, so the
      * window is at least ~half this many epochs in the worst case). */
    vacuumEveryEpochs: Option[Int] = None,
    vacuumRetainVersions: Int = 64,
    /** passed through to vacuum's orphan GC age floor; the 24h default is
      * the safe one — lower it only in tests / single-writer replays */
    vacuumOrphanMinAgeMs: Long = 24L * 3600 * 1000)

object CdcIngestJob {

  /** Stable commit-ledger id for a checkpoint location. */
  def ckptId(checkpointDir: String): String = {
    val d = MessageDigest.getInstance("SHA-1")
      .digest(checkpointDir.getBytes(StandardCharsets.UTF_8))
    d.take(8).map(b => f"$b%02x").mkString
  }

  /** Payload schema = change schema minus the envelope (op, lsn). */
  def payloadSchema(changeSchema: StructType): StructType =
    StructType(changeSchema.fields.filterNot(f => f.name == "op" || f.name == "lsn"))

  private val MaxPartitionBytesKey = "spark.sql.files.maxPartitionBytes"
  private val ListingThresholdKey = "spark.sql.sources.parallelPartitionDiscovery.threshold"

  /** Session settings the stream needs, applied by [[start]] and restored by
    * [[drainAvailableNow]]. Spark's file source re-lists the whole WAL tree
    * every epoch, and a directory with more subdirectories than the listing
    * threshold (default 32; the WAL keeps one directory per segment) is
    * listed by a distributed Spark job — a job plus one task per directory
    * per epoch. On the local filesystem the driver lists the same tree in a
    * fraction of that, so the threshold is lifted there; remote filesystems
    * keep Spark's distributed listing. */
  private def sessionSettings(spark: SparkSession, cfg: IngestConfig): Seq[(String, String)] = {
    val walFs = new Path(cfg.walDir).getFileSystem(spark.sessionState.newHadoopConf())
    cfg.maxPartitionBytes.map(b => MaxPartitionBytesKey -> b.toString).toSeq ++
      (if (walFs.getUri.getScheme == "file") Seq(ListingThresholdKey -> Int.MaxValue.toString)
       else Nil)
  }

  def start(spark: SparkSession, cfg: IngestConfig, trigger: Trigger): StreamingQuery = {
    if (!LakeTable.exists(cfg.tableDir))
      // the merge key comes from the caller's merge options — creating with
      // a different key would fail (or corrupt pruning) on the first epoch
      LakeTable.create(cfg.tableDir, payloadSchema(cfg.schema),
        cfg.mergeOptions.keyCols)
    sessionSettings(spark, cfg).foreach { case (k, v) => spark.conf.set(k, v) }
    val id = ckptId(cfg.checkpointDir)

    var src = spark.readStream
      .schema(cfg.schema)
      .option("recursiveFileLookup", "true")
    cfg.maxFilesPerTrigger.foreach(n => src = src.option("maxFilesPerTrigger", n))
    if (cfg.cleanSource != "off") {
      src = src.option("cleanSource", cfg.cleanSource)
      cfg.sourceArchiveDir.foreach(d => src = src.option("sourceArchiveDir", d))
    }
    val raw = src.parquet(cfg.walDir)
    val deduped =
      if (cfg.streamDedup)
        raw.withWatermark(cfg.watermarkCol, cfg.watermarkDelay)
          .dropDuplicatesWithinWatermark("lsn")
      else raw

    deduped.writeStream
      .queryName(s"cdc-ingest-$id")
      .option("checkpointLocation", cfg.checkpointDir)
      .foreachBatch { (batch: DataFrame, epochId: Long) =>
        val table = LakeTable.load(cfg.tableDir)
        // Materialize the micro-batch ONCE: the merge runs several jobs over
        // it, and each would otherwise re-execute the batch plan through the
        // stateful dedup operator (re-loading state stores per job).
        // localCheckpoint stores plain RDD blocks — cheap to build, unlike a
        // columnar cache — at the cost of lineage (fine: on executor loss the
        // query fails and restarts from the checkpoint, where the epoch
        // ledger makes the replay exactly-once).
        val mat = if (cfg.streamDedup) batch.localCheckpoint() else batch
        MergeInto.merge(batch.sparkSession, table, mat, id, epochId, cfg.mergeOptions)
        // retention cadence: out-of-band like async folds — a vacuum is
        // driver-side fs work but still O(retained snapshots) and must never
        // stretch an epoch; the maintenance queue also serializes it against
        // a concurrent fold on the same table (one thread)
        cfg.vacuumEveryEpochs.foreach { n =>
          if (epochId > 0 && epochId % n == 0)
            MergeInto.submitMaintenance(cfg.tableDir) { () =>
              graft.lake.Compaction.vacuum(LakeTable.load(cfg.tableDir),
                cfg.vacuumRetainVersions, cfg.vacuumOrphanMinAgeMs)
              ()
            }
        }
        ()
      }
      .trigger(trigger)
      .start()
  }

  /**
   * Process everything currently in the WAL, then stop (replay / catch-up
   * mode — the analogue of one reference Pipeline.Run()). Returns rows in the
   * table afterwards.
   */
  def runAvailableNow(spark: SparkSession, cfg: IngestConfig): Long = {
    drainAvailableNow(spark, cfg)
    LakeTable.load(cfg.tableDir).read(spark).count()
  }

  /** [[runAvailableNow]] without the trailing row count — for callers that
    * read the table themselves afterwards (the count is a full resolved
    * read+fold the caller would immediately repeat). */
  def drainAvailableNow(spark: SparkSession, cfg: IngestConfig): Unit = {
    val listener = new LineageListener(cfg.tableDir)
    spark.streams.addListener(listener)
    // `getAll` holds only explicitly set keys: an unset key is restored
    // unset, not pinned to the default `getOption` would report for it
    val set = spark.conf.getAll
    val prior = sessionSettings(spark, cfg).map { case (k, _) => k -> set.get(k) }
    try {
      val q = start(spark, cfg, Trigger.AvailableNow())
      q.awaitTermination()
    } finally {
      spark.streams.removeListener(listener)
      // bounded lifecycle => restore every session setting `start` applied
      prior.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
  }
}

/**
 * Per-epoch lineage: source offset ranges + row counts + durations from query
 * progress, dropped as JSON next to the table (`_lineage/`). Together with
 * the `_metrics` table (MergeStats incl. snapshot version + lsn range per
 * epoch) this is the engine's upgrade of the reference's per-stage stats
 * (/root/reference/execution_stat.go:9-48, pipeline.go:205-221).
 */
final class LineageListener(tableDir: String) extends StreamingQueryListener {
  private val dir = Paths.get(tableDir, "_lineage")

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit =
    Files.createDirectories(dir)

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = e.progress
    Files.write(dir.resolve(f"epoch-${p.batchId}%010d.json"),
      p.json.getBytes(StandardCharsets.UTF_8))
  }

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
}
