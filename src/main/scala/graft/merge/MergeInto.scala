package graft.merge

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{Compaction, DataFile, KeyCodec, LakeTable, SchemaMerge, Snapshot}

/**
 * Key-partitioned MERGE INTO — the Spark-native replacement for the
 * reference's `SQLWriter` + `ON DUPLICATE KEY UPDATE` load path
 * (/root/reference/processors/sql_writer.go:21-80,
 * /root/reference/util/sql.go:246-298), which delegates key-equality merge to
 * MySQL. Here the merge is an explicit distributed plan.
 *
 * Plan shape (chosen for 100 TB scale; asserted in PlanSpec):
 *
 *   1. Write-amplification mode (MergeMode): merge-on-read epochs write ONLY
 *      the batch as resolved delta files (O(batch) IO — the streaming-ingest
 *      default); copy-on-write epochs rewrite the base files the batch's key
 *      bounds intersect. Manifest pruning happens on the driver against
 *      snapshot metadata in KeyCodec's single ordering — no data read for
 *      untouched files, and integral keys prune too.
 *   2. Conflict resolution: because the rule is max-LSN-wins with a globally
 *      unique lsn, MERGE degenerates to an associative/commutative arg-max
 *      fold — never a full-outer join (an SMJ would shuffle both sides and
 *      cannot be broadcast). Default shape is `resolveSortDedup`: ONE range
 *      exchange that simultaneously places rows for tight per-file key
 *      bounds, clusters keys for the dedup window (no second exchange —
 *      RangePartitioning satisfies the window's ClusteredDistribution), and
 *      feeds WindowGroupLimit so losing rows drop before full evaluation.
 *      The hash-aggregate form (`resolveMaxLsn`, map-side partial combine +
 *      optional skew salting) remains selectable for high-duplication
 *      batches.
 *   3. Deletes write tombstones (_deleted = true, _lsn = delete's lsn) so a
 *      late-arriving lower-lsn insert can never resurrect a deleted key —
 *      required for replay determinism under out-of-order delivery.
 *   4. Exactly-once: the per-checkpoint epoch high-watermark in the snapshot
 *      makes re-delivered micro-batches no-ops; the commit itself is an
 *      atomic rename. Epoch ids per checkpoint must be monotone (Structured
 *      Streaming's foreachBatch contract).
 *
 * Output files are range-partitioned and key-sorted so per-file key bounds
 * stay tight (pruning + read-side selectivity) and file contents are
 * deterministic given the same final row set.
 */
final case class MergeOptions(
    keyCols: Seq[String] = Seq("conv_id", "turn_idx"),
    lsnCol: String = "lsn",
    opCol: String = "op",
    deleteOp: String = "D",
    saltBuckets: Int = 16,
    /** salted pre-reduce engages when one first-key exceeds this many rows */
    saltRowThreshold: Long = 2000000L,
    targetRowsPerFile: Long = 500000L,
    /** parallelism floor only applies while files stay above this size */
    minRowsPerFile: Long = 10000L,
    /** max #distinct first-key values collected to the driver for pruning.
      * Above it, pruning falls back to min/max range intersection: a batch
      * touching that many keys almost certainly intersects every file anyway,
      * and the driver-side collect becomes the epoch's serial bottleneck. */
    collectKeysLimit: Int = 20000,
    /** Conflict-resolution plan shape:
      *  - [[ResolveStrategy.SortDedup]] (default): ONE shuffle — range-
      *    partition the raw union on the key, sort within partitions by
      *    (key, lsn desc), keep row_number()==1. The range partitioning
      *    satisfies the window's ClusteredDistribution so no second
      *    exchange appears; the write needs no extra repartition since the
      *    data is already range-placed and sorted.
      *  - [[ResolveStrategy.Agg]]: hash arg-max aggregate (map-side partial
      *    combine) followed by a range repartition for the write — TWO
      *    shuffles, plus the sampling job re-executes the aggregate unless
      *    `checkpointResolved` is set. Wins only when batches carry many
      *    updates per key (combine collapses them map-side before the
      *    shuffle). */
    resolveStrategy: ResolveStrategy = ResolveStrategy.SortDedup,
    /** Agg strategy only: localCheckpoint the resolved frame so the range
      * sampling job reads materialized blocks instead of re-running the
      * aggregate. Trades executor-loss recoverability (safe here: the epoch
      * ledger makes a retried micro-batch idempotent) for halving the agg
      * work. */
    checkpointResolved: Boolean = true,
    /** Write amplification mode.
      *  - [[MergeMode.Cow]] (copy-on-write): touched base files are rewritten
      *    each epoch. Reads are resolve-free; per-epoch write cost is
      *    O(touched table data) — with uniformly distributed update keys that
      *    is the WHOLE table per epoch, which at 100 TB is untenable.
      *  - [[MergeMode.Mor]] (merge-on-read): the epoch writes ONLY the batch
      *    (resolved within itself, range-placed, key-sorted) as delta files;
      *    reads fold base+deltas by max-lsn; `Compaction.foldDeltas` (invoked
      *    automatically past the thresholds below) folds deltas into the base.
      *    Per-epoch write cost is O(batch) — the streaming-ingest default. */
    mode: MergeMode = MergeMode.Cow,
    /** MoR: fold deltas into base when delta rows exceed this multiple of
      * base rows — the LSM write-amp/read-amp dial: each fold rewrites
      * base+deltas, so ratio r bounds total write amplification at
      * ~(1 + 1/r) log_{1+r}(N) row-writes per ingested row while reads fan
      * in at most (1 + r) x base bytes between folds */
    morCompactDeltaRatio: Double = 2.0,
    /** MoR: ... or when delta file count alone exceeds this (bounds read
      * fan-in even when the base is huge). Sized well above files-per-epoch
      * (up to 2x cores): a threshold near the per-epoch file count would
      * fire every couple of epochs and rewrite the base each time — O(T^2)
      * total writes instead of the ratio trigger's logarithmic amortization,
      * and worse on wider clusters. 1024 files = tens of epochs of fan-in,
      * with the row-ratio trigger remaining the primary policy. */
    morCompactMaxDeltaFiles: Int = 1024,
    /** Parquet compression for the files this engine writes (delta + base).
      * Default lz4 WITHOUT dictionary encoding, from width-interleaved A/B on
      * the bench corpus (19M transcript rows, tmpfs): the epoch shape
      * (scan -> hash dedup -> encode) ran 4.1-4.3s at 32 cores with
      * lz4/no-dict vs 4.9-6.5s with snappy/dict, and no worse at 8 cores —
      * snappy decode and dictionary bit-unpacking are memory-LATENCY-bound
      * random access that throttles hardest at wide parallelism, while lz4's
      * sequential decode scales with cores. Dictionary off because transcript
      * text is high-cardinality (dictionary pages fall back anyway and the
      * probe pays their indirection); zstd traded ~40%% smaller files for
      * slower wide-width decode — the right choice for cold storage tiers,
      * not the hot ingest path. */
    parquetCodec: String = "lz4",
    parquetDictionary: Boolean = false,
    /** Sparse tables only: plan shape for partial-column resolution.
      *  - [[ResolveStrategy.SortDedup]] (default): clustered-window fold
      *    ([[MergeInto.resolveSparse]]) — one exchange that doubles as the
      *    write placement; per-key groups buffer in the window operator.
      *  - [[ResolveStrategy.Agg]]: one hash aggregate
      *    ([[MergeInto.resolveSparseAgg]], ObjectHashAggregate with map-side
      *    partial combine) — collapses high-duplication/hot-key batches
      *    BEFORE the shuffle; delta file count follows the aggregate's
      *    shuffle partitioning. Applies to MoR epochs (read-time folds and
      *    compaction keep the window form's range placement). */
    sparseResolve: ResolveStrategy = ResolveStrategy.SortDedup,
    /** MoR: resolve the batch within itself before writing delta files
      * (default). With `false` the epoch writes the normalized batch AS
      * SCANNED — no shuffle, no sort: a pure map job (scan -> project ->
      * encode) that scales near-perfectly with cores, at the cost of delta
      * files carrying intra-batch superseded row versions (read-time and
      * fold-time resolution are unchanged — the max-lsn fold is total, so
      * correctness is identical; deltas are just larger when one batch
      * updates the same key repeatedly). The right trade when batches are
      * mostly unique keys and folds are frequent. */
    morResolveWithinBatch: Boolean = true,
    /** MoR: run trigger-fired delta folds OUT-OF-BAND on a maintenance
      * thread instead of inline in the epoch. An inline fold reads
      * base+deltas in full — at 100 TB that is a multi-hour job executed
      * INSIDE a foreachBatch epoch: the stream stalls, checkpoint progress
      * stops, upstream backlog grows unboundedly. Async folds ride the
      * disjoint-writer rebase commit (epochs only ADD delta files; the fold
      * only REMOVES files that existed at its start snapshot — provably
      * disjoint, raced cross-JVM in CommitRaceSpec), so epochs keep
      * committing while the fold runs. At most one fold per table is in
      * flight; a trigger that fires mid-fold is absorbed (the running fold
      * already shrinks the backlog, and the next epoch re-evaluates).
      * Default off: inline folds keep single-shot batch jobs and tests
      * deterministic; the streaming ingest config turns it on. */
    foldAsync: Boolean = false)

sealed trait ResolveStrategy
object ResolveStrategy {
  case object SortDedup extends ResolveStrategy
  case object Agg extends ResolveStrategy
}

sealed trait MergeMode
object MergeMode {
  case object Cow extends MergeMode
  case object Mor extends MergeMode
}

final case class MergeStats(
    ckptId: String,
    epochId: Long,
    snapshotVersion: Long,
    batchRows: Long,
    batchMinLsn: Long,
    batchMaxLsn: Long,
    outputRows: Long,
    /** delete events in this batch (tombstone writes) — telemetry only */
    tombstones: Long,
    filesRewritten: Int,
    filesPruned: Int,
    filesAdded: Int,
    wallMs: Long,
    /** phase breakdown (ms): batch stats pass (incl. the CoW key collect),
      * data write incl. range sampling, footer stats, snapshot commit */
    statsMs: Long,
    writeMs: Long,
    footerMs: Long,
    commitMs: Long,
    noop: Boolean)

object MergeInto extends Logging {
  import LakeTable.{DeletedCol, LsnCol}

  /** last observed batch rows per checkpoint — the MoR file-count estimator
    * (in-memory only: a restart's first epoch just falls back to the
    * parallelism floor) */
  private val lastBatchRows =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]

  /**
   * Merge one change batch into the table under (ckptId, epochId) idempotence.
   * Batch columns: opCol, lsnCol + payload columns (superset-merged into the
   * table schema; missing payload columns read as null).
   */
  def merge(
      spark: SparkSession,
      table: LakeTable,
      batch: DataFrame,
      ckptId: String,
      epochId: Long,
      opts: MergeOptions = MergeOptions()): MergeStats = {
    val t0 = System.nanoTime()
    val snap = table.currentSnapshot
    // table totals come from snapshot manifest REFS: the per-epoch hot path
    // never lists files (a 10^10-event table's listing is 10^5+ entries)
    val refFileCount = snap.manifests.map(_.files).sum
    val refRowCount = snap.manifests.map(_.rows).sum
    if (snap.epochHwm.get(ckptId).exists(_ >= epochId)) {
      // exactly-once: replayed epoch is a no-op (epoch ids per checkpoint are
      // monotone — Structured Streaming's foreachBatch contract)
      return MergeStats(ckptId, epochId, snap.version, 0, -1, -1, 0, 0, 0,
        refFileCount, 0, 0, 0, 0, 0, 0, noop = true)
    }

    // the merge key lives in table metadata; a mismatched caller would
    // compute manifest bounds on the wrong column and corrupt pruning
    require(opts.keyCols == snap.keyCols,
      s"merge key mismatch: table has ${snap.keyCols}, options say ${opts.keyCols}")
    val keyCols = snap.keyCols
    val batchPayload = StructType(batch.schema.fields.filterNot(f =>
      f.name == opts.opCol || f.name == opts.lsnCol))
    val mergedPayload = SchemaMerge.merge(tablePayload(snap), batchPayload)
    val storedSchema =
      StructType(mergedPayload.fields.toSeq ++ LakeTable.metaFields(snap.sparse))
    val nonKeyPayload =
      mergedPayload.fields.map(_.name).filterNot(keyCols.contains).toSeq

    // Normalize the batch to stored shape: payload (nulls for D rows except
    // keys, nulls for columns the batch doesn't carry), _lsn, _deleted.
    val isDelete = col(opts.opCol) === lit(opts.deleteOp)
    val batchCols = batch.columns.toSet
    val payloadExprs = mergedPayload.fields.toSeq.map { f =>
      if (!batchCols.contains(f.name)) lit(null).cast(f.dataType).as(f.name)
      else if (keyCols.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else when(isDelete, lit(null).cast(f.dataType))
        .otherwise(col(f.name).cast(f.dataType)).as(f.name)
    }
    // sparse tables: record, per non-key column the event actually SET, the
    // event's lsn — the cell provenance resolveSparse folds by
    val sparseCols =
      if (!snap.sparse) Nil
      else Seq(
        map_filter(
          map_from_arrays(
            array(nonKeyPayload.map(lit): _*),
            array(nonKeyPayload.map { c =>
              if (!batchCols.contains(c)) lit(null).cast(LongType)
              else when(!isDelete && col(c).isNotNull,
                col(opts.lsnCol).cast(LongType))
            }: _*)),
          (_, v) => v.isNotNull).as(LakeTable.CellLsnCol),
        // raw events carry no fold history; the delete watermark appears only
        // on FOLDED rows (resolveSparse sets it) — see LakeTable.DelLsnCol
        lit(null).cast(LongType).as(LakeTable.DelLsnCol))
    // NOT persisted: bNorm is a cheap scan+project recomputed by each of the
    // few jobs below; building a columnar cache of it costs multiples of the
    // recompute (measured) and is a serial, cores-insensitive fixed cost.
    val bNorm = batch.select(payloadExprs ++ Seq(
      col(opts.lsnCol).cast(LongType).as(LsnCol),
      isDelete.as(DeletedCol)) ++ sparseCols: _*)

    {
      // --- batch stats -------------------------------------------------------
      // Pass 1 (always, global): row count, lsn bounds, delete count, approx
      // key cardinality. Pass 2 (only when the key set is small enough to be
      // useful): exact per-key counts collected for manifest file pruning and
      // the skew signal. A batch touching more than collectKeysLimit keys
      // intersects virtually every file anyway, so the keyed pass (a full
      // hash aggregate + a large driver collect) would be pure overhead.
      val k1 = keyCols.head
      val k1Type = bNorm.schema(k1).dataType
      val prunable = KeyCodec.supports(k1Type)
      val isMor = opts.mode == MergeMode.Mor
      val tStats = System.nanoTime()
      // MoR epochs never read the base, so they need NO pre-write job at all:
      // row count, lsn bounds and tombstone telemetry ride the WRITE job via
      // CollectMetrics (Observation) — measured 1-2s of serial per-epoch time
      // for even a zero-column pre-count at 8M-row epochs. CoW keeps a
      // pre-write stats pass: key bounds must exist BEFORE deciding which
      // base files to read, and file sizing needs the row estimate up front.
      //
      // CoW stats run as ONE keyed aggregation job (guide §1.2/§2.4 — fewer
      // jobs, not faster jobs): groupBy(k1) with per-key (count, lsn bounds,
      // delete count), collected under collectKeysLimit. The global stats
      // (row count, lsn bounds, delete count, key envelope) fold from the
      // per-key rows on the driver — exactly, since the groups partition the
      // batch — replacing the former two serial jobs (global agg with
      // approx_count_distinct, then the keyed collect) with one. Only a batch
      // whose k1 cardinality exceeds the limit pays a second, global-agg job
      // (such a batch touches ~every file anyway, so the keyed pass being
      // wasted is the pre-existing trade — see collectKeysLimit).
      val morObs = if (isMor) Some(new org.apache.spark.sql.Observation()) else None
      var bRows = -1L
      var bMinLsn0 = -1L
      var bMaxLsn0 = -1L
      var bDeletes0 = 0L
      var keyLo: String = null
      var keyHi: String = null
      var keySet: Option[Array[String]] = None
      var maxKeyCount = -1L
      if (!isMor) {
        def globalStats(): Unit = {
          val r = bNorm.agg(count(lit(1)), min(col(LsnCol)), max(col(LsnCol)),
            sum(when(col(DeletedCol), 1L).otherwise(0L)),
            min(col(k1)), max(col(k1))).head()
          def enc(i: Int): String =
            if (!prunable || r.isNullAt(i)) null else KeyCodec.encode(k1Type, r.get(i))
          bRows = r.getLong(0)
          bMinLsn0 = if (r.isNullAt(1)) -1L else r.getLong(1)
          bMaxLsn0 = if (r.isNullAt(2)) -1L else r.getLong(2)
          bDeletes0 = if (r.isNullAt(3)) 0L else r.getLong(3)
          keyLo = enc(4); keyHi = enc(5)
          keySet = None; maxKeyCount = bRows
        }
        if (prunable) {
          val keyRows = bNorm.groupBy(col(k1)).agg(count(lit(1)).as("n"),
            min(col(LsnCol)).as("mn"), max(col(LsnCol)).as("mx"),
            sum(when(col(DeletedCol), 1L).otherwise(0L)).as("d"))
            .limit(opts.collectKeysLimit + 1).collect()
          if (keyRows.length > opts.collectKeysLimit) globalStats()
          else {
            bRows = keyRows.map(_.getLong(1)).sum
            val lsnMins = keyRows.filterNot(_.isNullAt(2)).map(_.getLong(2))
            val lsnMaxs = keyRows.filterNot(_.isNullAt(3)).map(_.getLong(3))
            bMinLsn0 = if (lsnMins.isEmpty) -1L else lsnMins.min
            bMaxLsn0 = if (lsnMaxs.isEmpty) -1L else lsnMaxs.max
            bDeletes0 = keyRows.map(r => if (r.isNullAt(4)) 0L else r.getLong(4)).sum
            val nonNull = keyRows.filterNot(_.isNullAt(0))
            val encoded = nonNull.map(r => KeyCodec.encode(k1Type, r.get(0)))
              .sorted(KeyCodec.ordering)
            keyLo = if (encoded.isEmpty) null else encoded.head
            keyHi = if (encoded.isEmpty) null else encoded.last
            if (nonNull.length < keyRows.length) {
              // null keys present: no exact prune set (a null key has no
              // encoding), same fallback as before
              keySet = None; maxKeyCount = bRows
            } else {
              keySet = Some(encoded)
              maxKeyCount = if (keyRows.isEmpty) 0L else keyRows.map(_.getLong(1)).max
            }
          }
        } else globalStats()
      }
      val statsMs = millisSince(tStats)

      if (!isMor && bRows == 0) {
        val next = table.commitChange(snap, snap.schemaJson, Set.empty, Nil,
          Some((ckptId, epochId)))
        return MergeStats(ckptId, epochId, next.version, 0, -1, -1, 0, 0, 0,
          refFileCount, 0, millisSince(t0), statsMs, 0, 0, 0,
          noop = false)
      }

      // --- file pruning against manifest key bounds (CoW reads the base;
      // MoR touches nothing). Two-level: whole manifests outside the batch's
      // key envelope are skipped WITHOUT being parsed (snapshot refs carry
      // per-manifest ranges), then the surviving candidates prune per file.
      val touched: List[DataFile] = opts.mode match {
        case MergeMode.Mor => Nil
        case MergeMode.Cow =>
          val envelope: Option[(String, String)] = keySet match {
            case Some(sorted) if sorted.nonEmpty => Some((sorted.head, sorted.last))
            case Some(_) => None
            case None if prunable && keyLo != null && keyHi != null =>
              Some((keyLo, keyHi))
            case None => None
          }
          val candidates = envelope match {
            case Some((lo, hi)) => table.filesIntersecting(snap, lo, hi)
            case None => table.files(snap) // no usable bounds: all candidates
          }
          pruneFiles(candidates, prunable, keySet, keyLo, keyHi)._1
      }
      val touchedRows = touched.map(_.rows).sum
      // untouched = table minus touched, by REF arithmetic (no listing)
      val untouchedCount = refFileCount - touched.size
      val untouchedRows = refRowCount - touchedRows

      val newVersion = snap.version + 1
      val outDir = table.newDataDir(newVersion)
      // File-count target, floored at 2x cluster parallelism: with few/large
      // target files the final sort+write would otherwise run as 1-2 tasks
      // and serialize the whole epoch; the 2x (two task waves per stage)
      // smooths per-task stragglers — a single-wave stage finishes with its
      // SLOWEST task, a real tail cost on shared/heterogeneous nodes.
      // CoW bounds the floor by minRowsPerFile so tiny epochs don't spray
      // micro-files; MoR has no pre-write row count (by design, see the
      // stats pass) and instead sizes from the PREVIOUS epoch's observed
      // rows — steady streams see stable batch sizes, so this converges
      // after one epoch. The very first epoch (or the first after a JVM
      // restart) sizes from the batch's SCAN partition count instead of a
      // flat 2x-parallelism: scan partitions track input bytes
      // (maxPartitionBytes), so a large first batch still writes wide while
      // a small one (fresh e2e tables, replay smoke runs) no longer sprays
      // 2x-cores micro-files whose footer stats + manifest entries dominated
      // the epoch (measured: 64 files / ~600 ms write for a 5k-row seed
      // epoch vs 1 file / ~250 ms once the estimator kicks in).
      def sized(estRows: Long): Int = {
        val bySize = (estRows + opts.targetRowsPerFile - 1) / opts.targetRowsPerFile
        val byPar = math.min(2L * spark.sparkContext.defaultParallelism,
          estRows / opts.minRowsPerFile)
        math.max(1L, math.max(bySize, byPar)).toInt
      }
      val nOut = if (isMor) {
        Option(lastBatchRows.get(ckptId)).map(_.longValue()).filter(_ > 0)
          .map(sized)
          .getOrElse(math.max(1, math.min(
            2 * spark.sparkContext.defaultParallelism,
            bNorm.rdd.getNumPartitions)))
      } else {
        sized(touchedRows + bRows)
      }

      val tWrite = System.nanoTime()
      val isDelta = opts.mode == MergeMode.Mor
      // MoR telemetry rides the write job (see stats pass above)
      val obsNorm = morObs.map(o => bNorm.observe(o,
        count(lit(1)).as("rows"),
        min(col(LsnCol)).as("minLsn"), max(col(LsnCol)).as("maxLsn"),
        sum(when(col(DeletedCol), 1L).otherwise(0L)).as("dels")))
        .getOrElse(bNorm)
      val toWrite = opts.mode match {
        case MergeMode.Mor if snap.sparse =>
          // within-batch sparse collapse: exact because cell lsns preserve
          // per-column provenance (see resolveSparse / resolveSparseAgg)
          opts.sparseResolve match {
            case ResolveStrategy.Agg =>
              // coalesce (not repartition) the aggregate output to nOut so
              // file sizing stays governed by targetRowsPerFile like every
              // other write path — the agg's own output partitioning is
              // spark.sql.shuffle.partitions, which would spray that many
              // tiny delta files per small epoch. Coalesce merges post-agg
              // partitions without a second exchange and no-ops when the
              // agg already runs at <= nOut partitions.
              resolveSparseAgg(obsNorm, keyCols, nonKeyPayload).coalesce(nOut)
            case ResolveStrategy.SortDedup =>
              resolveSparse(obsNorm.repartition(nOut, keyCols.map(col): _*),
                keyCols, nonKeyPayload)
          }
        case MergeMode.Mor if !opts.morResolveWithinBatch =>
          // shuffle-free epoch: the normalized batch goes straight to delta
          // files in scan order (see MergeOptions.morResolveWithinBatch)
          obsNorm
        case MergeMode.Mor =>
          // merge-on-read: write ONLY the batch, resolved within itself
          // (cross-epoch conflicts fold at read / compaction time). Hash
          // exchange: no range-boundary sampling job, so the batch is
          // scanned exactly once per epoch — delta files are folded soon
          // anyway, so tight range bounds buy little there.
          resolveHashDedup(obsNorm, keyCols, nOut)
        case MergeMode.Cow if snap.sparse =>
          val target =
            if (touched.isEmpty)
              spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                storedSchema)
            else
              spark.read.schema(storedSchema).parquet(touched.map(_.path): _*)
          resolveSparse(
            target.unionByName(bNorm)
              .repartitionByRange(nOut, keyCols.map(col): _*),
            keyCols, nonKeyPayload)
        case MergeMode.Cow =>
          val target =
            if (touched.isEmpty)
              spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
                storedSchema)
            else
              spark.read.schema(storedSchema).parquet(touched.map(_.path): _*)
          val union = target.unionByName(bNorm)
          opts.resolveStrategy match {
            case ResolveStrategy.SortDedup =>
              // One shuffle: the range exchange both resolves conflicts
              // (window over the in-partition sort) and places rows for tight
              // per-file key bounds. The sampling job only re-runs the cheap
              // scan+project union, never an aggregate.
              resolveSortDedup(union, keyCols, nOut)
            case ResolveStrategy.Agg =>
              // Salted pre-reduce only under real skew: partial hash
              // aggregation already combines hot keys map-side, so the second
              // aggregation level only pays off when one key dominates.
              val salt =
                if (maxKeyCount > opts.saltRowThreshold) opts.saltBuckets else 1
              val resolved0 = resolveMaxLsn(union, keyCols, salt)
              // localCheckpoint (RDD blocks, NOT columnar cache — measured far
              // cheaper) so repartitionByRange's sampling job doesn't
              // re-execute the aggregate.
              val resolved =
                if (opts.checkpointResolved) resolved0.localCheckpoint()
                else resolved0
              resolved
                .repartitionByRange(nOut, keyCols.map(col): _*)
                .sortWithinPartitions(keyCols.map(col) :+ col(LsnCol): _*)
          }
      }
      toWrite.write.mode("overwrite")
        .option("compression", opts.parquetCodec)
        .option("parquet.enable.dictionary", opts.parquetDictionary.toString)
        .parquet(outDir)
      val writeMs = millisSince(tWrite)
      // collect the ridden-along MoR telemetry (the write action finished,
      // so get() returns immediately)
      val (bRowsFinal, bMinLsn, bMaxLsn, bDeletes) = morObs match {
        case Some(o) =>
          val m = o.get
          def l(k: String, d: Long) =
            m.get(k).collect { case v: java.lang.Long => v.longValue() }.getOrElse(d)
          (l("rows", 0L), l("minLsn", -1L), l("maxLsn", -1L), l("dels", 0L))
        case None => (bRows, bMinLsn0, bMaxLsn0, bDeletes0)
      }
      // estimator update only on non-empty epochs: recording 0 would make the
      // NEXT epoch size to sized(0)=1 output partition and serialize a
      // potentially large batch through a single task — an idle tick must not
      // poison the estimate (nor should a restart: absent => parallelism floor)
      if (isMor && bRowsFinal > 0) lastBatchRows.put(ckptId, bRowsFinal)

      if (isMor && bRowsFinal == 0) {
        // empty MoR epoch: advance the exactly-once ledger WITHOUT data files
        // (a 0-row delta file would still cost a read-fold fan-in slot and a
        // manifest entry per idle tick, forever)
        deleteRecursively(outDir)
        val next = table.commitChange(snap, storedSchema.json, Set.empty, Nil,
          Some((ckptId, epochId)))
        val stats = MergeStats(ckptId, epochId, next.version, 0, -1, -1,
          untouchedRows, 0, 0, untouchedCount, 0,
          millisSince(t0), statsMs, writeMs, 0, 0, noop = false)
        writeMetrics(spark, table, stats)
        return stats
      }

      // --- per-file stats from parquet footers (driver-side, no re-scan) ----
      val tFooter = System.nanoTime()
      val newFiles = FileStats
        .fromFooters(spark, outDir, k1, k1Type, newVersion, isDelta)
        .getOrElse(FileStats.fromScan(spark, outDir, storedSchema, k1, newVersion, isDelta))
      val outputRows = newFiles.map(_.rows).sum + untouchedRows
      val footerMs = millisSince(tFooter)

      // removed-key envelope: lets the commit skip parsing manifests that
      // cannot contain a removed path (all touched bounds known => envelope)
      val removedBounds =
        if (touched.nonEmpty && touched.forall(f => f.minKey != null && f.maxKey != null))
          Some((touched.map(_.minKey).min(KeyCodec.ordering),
            touched.map(_.maxKey).max(KeyCodec.ordering)))
        else None
      val tCommit = System.nanoTime()
      val committed = table.commitChange(snap, storedSchema.json,
        touched.map(_.path).toSet, newFiles, Some((ckptId, epochId)),
        removedBounds = removedBounds)
      val commitMs = millisSince(tCommit)

      // committed.version, not newVersion: a disjoint-writer commit retry
      // (e.g. racing compaction) may land the epoch at a later version
      val stats = MergeStats(ckptId, epochId, committed.version, bRowsFinal, bMinLsn, bMaxLsn,
        outputRows, bDeletes, touched.size, untouchedCount, newFiles.size,
        millisSince(t0), statsMs, writeMs, footerMs, commitMs,
        noop = false)
      writeMetrics(spark, table, stats)

      // --- MoR delta maintenance: fold past the thresholds (trigger math
      // rides the committed snapshot's manifest refs — no file listing) -----
      if (isDelta) {
        val deltaFiles = committed.manifests.map(_.deltaFiles).sum
        val deltaRows = committed.manifests.map(_.deltaRows).sum
        val baseRows = committed.manifests.map(_.rows).sum - deltaRows
        // ratio trigger only once a base EXISTS: with an empty base a "fold"
        // is a pure relabel (deltas -> base, same file count, no read-amp
        // gain) that rewrites every ingested row — measured as the single
        // largest cost of a from-empty ingest window. Until the first real
        // fold, the file-count trigger bounds read fan-in on its own.
        if (deltaFiles > opts.morCompactMaxDeltaFiles ||
            (baseRows > 0 && deltaRows > baseRows * opts.morCompactDeltaRatio)) {
          if (opts.foldAsync)
            submitMaintenance(table.dir) { () =>
              Compaction.foldDeltas(spark, table,
                opts.targetRowsPerFile, opts.minRowsPerFile)
              ()
            }
          else
            Compaction.foldDeltas(spark, table, opts.targetRowsPerFile,
              opts.minRowsPerFile)
        }
      }
      stats
    }
  }

  /** Single maintenance thread for out-of-band folds/vacuums (see
    * [[MergeOptions.foldAsync]]): daemon so a finished driver never hangs on
    * it, one thread so two maintenance jobs never race each other's commit
    * (cross-PROCESS races remain covered by the rebase retry). */
  private lazy val maintenancePool = java.util.concurrent.Executors
    .newSingleThreadExecutor { r =>
      val t = new Thread(r, "graft-maintenance"); t.setDaemon(true); t
    }
  /** table dirs with a maintenance task queued or running */
  private val maintenanceInFlight =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Queue `task` for `tableDir` unless one is already pending — a trigger
    * firing mid-fold is absorbed, not queued behind it (the running fold
    * already shrinks the delta backlog; the next epoch re-evaluates the
    * trigger). Failures log and clear the flag: maintenance is best-effort
    * by design (the stream's correctness never depends on a fold). */
  private[graft] def submitMaintenance(tableDir: String)(task: () => Unit): Boolean = {
    if (!maintenanceInFlight.add(tableDir)) return false
    maintenancePool.submit(new Runnable {
      override def run(): Unit =
        try task()
        catch {
          case e: Throwable =>
            logWarning(s"maintenance task for $tableDir failed", e)
        } finally {
          maintenanceInFlight.remove(tableDir); ()
        }
    })
    true
  }

  /** Drain the maintenance queue (tests, bounded-lifecycle jobs): returns
    * once every task submitted before the call has finished. */
  def awaitMaintenance(): Unit = {
    maintenancePool.submit(new Runnable { override def run(): Unit = () }).get()
    ()
  }

  /**
   * Single-shuffle conflict resolution: range-partition on the key columns,
   * sort within partitions by (key, lsn desc), keep the first row per key.
   * RangePartitioning(keyCols) satisfies the window's
   * ClusteredDistribution(keyCols) and the in-partition sort matches its
   * required ordering, so EnsureRequirements inserts NO second exchange and
   * NO extra sort — asserted in PlanSpec. Exact for max-lsn-wins because lsn
   * is globally unique (no ties). Output is range-placed and key-sorted, so
   * per-file bounds stay tight for manifest pruning.
   *
   * Skew note: the partitioning key is the FULL key tuple (conv_id,
   * turn_idx), so a hot conv_id spreads over its turns, and the range
   * sampler assigns hot key ranges more partitions; rows equal on the whole
   * tuple are bounded by the per-key update count within one epoch.
   */
  def resolveSortDedup(union: DataFrame, keyCols: Seq[String], nOut: Int): DataFrame =
    dedupAfterExchange(union.repartitionByRange(nOut, keyCols.map(col): _*), keyCols)

  /**
   * Same single-shuffle dedup with a HASH exchange instead of range: no
   * boundary-sampling job, so the input is scanned exactly once per epoch —
   * the right trade for merge-on-read DELTA writes, whose files are
   * short-lived (folded into the base) and whose per-file key bounds
   * therefore buy little pruning. Long-lived base files (CoW epochs,
   * compaction, delta folds) keep the range form for tight bounds.
   * Deterministic: hash placement and in-partition order are functions of
   * the data only.
   */
  def resolveHashDedup(union: DataFrame, keyCols: Seq[String], nOut: Int): DataFrame =
    dedupAfterExchange(union.repartition(nOut, keyCols.map(col): _*), keyCols)

  /**
   * Partial-column (sparse) conflict resolution — the reference's
   * `OnDupKeyFields` column-subset upsert (/root/reference/processors/
   * sql_writer.go:25, /root/reference/util/sql.go:274-284), generalized to
   * per-event sparseness: a null payload column in an update event means
   * "unchanged", and the fold resolves EVERY column independently.
   *
   * Rule: per key, a column's final value comes from the highest-CELL-lsn
   * event that set the column AFTER the key's newest delete (`_cell_lsn`
   * records, per column, the lsn of the event that set it — without that
   * provenance a folded row would promote old column values to its row lsn,
   * and a late lower-lsn update arriving in a later epoch would lose;
   * with it the fold is associative, so within-batch collapse, cross-epoch
   * read folds and compaction all compose exactly).
   *
   * The key's newest-delete lsn is itself fold state: when a row NEWER than
   * the delete survives the fold, the tombstone row is dropped, so its lsn
   * must persist on the folded row (`_del_lsn`) — otherwise a later fold
   * input carrying a late event with a cell lsn below the forgotten delete
   * would resurrect dead cells (fold associativity would break: final state
   * would depend on whether within-batch collapse or compaction ran). The
   * per-row delete watermark is therefore greatest(own tombstone lsn,
   * carried `_del_lsn`), folded by max per key and re-emitted.
   *
   * Explicit-null writes are unrepresentable in sparse mode (null = unset),
   * matching the reference's column-subset semantics.
   *
   * Plan shape: all window functions share ONE key clustering (a single
   * exchange, inserted by the planner if the caller hasn't already
   * placed/partitioned the data) — full-frame per-column max_by folds plus
   * one (key, lsn desc) row_number to keep a single resolved row per key.
   */
  def resolveSparse(rows0: DataFrame, keyCols: Seq[String],
      payloadCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // tolerate inputs from before the _del_lsn column existed (reads as null)
    val rows =
      if (rows0.columns.contains(LakeTable.DelLsnCol)) rows0
      else rows0.withColumn(LakeTable.DelLsnCol, lit(null).cast(LongType))
    val kc = keyCols.map(col)
    val wFull = Window.partitionBy(kc: _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val wOrd = Window.partitionBy(kc: _*).orderBy(col(LsnCol).desc)
    val lastDel = max(greatest(
      when(coalesce(col(DeletedCol), lit(false)), col(LsnCol)),
      col(LakeTable.DelLsnCol))).over(wFull)
    def cellOf(c: String) = element_at(col(LakeTable.CellLsnCol), lit(c))
    def masked(c: String) =
      when(cellOf(c) > coalesce(col("_ld"), lit(Long.MinValue)), cellOf(c))
    val valCols = payloadCols.map(c => max_by(col(c), masked(c)).over(wFull).as(s"_v_$c"))
    val lsnCols = payloadCols.map(c => max(masked(c)).over(wFull).as(s"_l_$c"))
    val folded = rows
      .withColumn("_ld", lastDel)
      .select((rows.columns.map(col).toSeq :+ col("_ld")) ++ valCols ++ lsnCols: _*)
      .withColumn("_rn", row_number().over(wOrd))
      .filter(col("_rn") === 1)
    val cellMap = map_filter(
      map_from_arrays(
        array(payloadCols.map(lit): _*),
        array(payloadCols.map(c => col(s"_l_$c")): _*)),
      (_, v) => v.isNotNull)
    val outCols =
      rows.columns.toSeq.map {
        case c if payloadCols.contains(c) => col(s"_v_$c").as(c)
        case c if c == LakeTable.CellLsnCol => cellMap.as(c)
        case c if c == LakeTable.DelLsnCol => col("_ld").as(c)
        case c => col(c)
      }
    folded.select(outCols: _*)
  }

  /**
   * Aggregate-form sparse resolution — same fold semantics as
   * [[resolveSparse]] (per-column max-cell-lsn after the delete watermark,
   * watermark persisted), different plan shape: ONE hash aggregate
   * (ObjectHashAggregate via the native `max_row_by_long`, map-side partial
   * combine) instead of clustered windows. The window form buffers each key
   * group in memory before emitting; under heavy per-key duplication (hot
   * conv_ids updated many times within one batch) the aggregate collapses
   * duplicates map-side BEFORE the shuffle, bounding both shuffle volume and
   * per-key memory. Selectable via [[MergeOptions.sparseResolve]].
   *
   * Per column the aggregate takes the arg-max value by UNMASKED cell lsn
   * plus the max cell lsn, then masks at projection time: if the column's
   * max cell lsn is <= the key's delete watermark every older cell is too,
   * and if it is above, the unmasked winner IS the masked winner — so
   * post-masking is exact. null ordinals (events that didn't set the column)
   * are ignored by the aggregate, like nulls in `max_by`.
   */
  def resolveSparseAgg(rows0: DataFrame, keyCols: Seq[String],
      payloadCols: Seq[String]): DataFrame = {
    val rows =
      if (rows0.columns.contains(LakeTable.DelLsnCol)) rows0
      else rows0.withColumn(LakeTable.DelLsnCol, lit(null).cast(LongType))
    graft.functions.GraftFunctions.register(rows.sparkSession)
    def amax(v: Column, o: Column): Column =
      call_function(graft.functions.GraftFunctions.MaxRowByLongName, v, o)
    def cellOf(c: String) = element_at(col(LakeTable.CellLsnCol), lit(c))
    val aggs: Seq[Column] =
      payloadCols.flatMap(c => Seq(
        amax(struct(col(c).as("v")), cellOf(c)).as(s"_av_$c"),
        max(cellOf(c)).as(s"_al_$c"))) ++ Seq(
        max(greatest(
          when(coalesce(col(DeletedCol), lit(false)), col(LsnCol)),
          col(LakeTable.DelLsnCol))).as("_wm"),
        amax(struct(col(LsnCol).as("l"), col(DeletedCol).as("d")), col(LsnCol))
          .as("_meta"))
    val g = rows.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
    def wm = coalesce(col("_wm"), lit(Long.MinValue))
    def maskedLsn(c: String) = when(col(s"_al_$c") > wm, col(s"_al_$c"))
    val cellMap = map_filter(
      map_from_arrays(
        array(payloadCols.map(lit): _*),
        array(payloadCols.map(maskedLsn): _*)),
      (_, v) => v.isNotNull)
    val outCols = rows.columns.toSeq.map {
      case c if payloadCols.contains(c) =>
        when(maskedLsn(c).isNotNull, col(s"_av_$c").getField("v")).as(c)
      case c if c == LsnCol => col("_meta").getField("l").as(c)
      case c if c == DeletedCol => col("_meta").getField("d").as(c)
      case c if c == LakeTable.CellLsnCol => cellMap.as(c)
      case c if c == LakeTable.DelLsnCol => col("_wm").as(c)
      case c => col(c) // key columns: grouping output
    }
    g.select(outCols: _*)
  }

  /** The shared in-partition dedup pipeline: both exchanges above satisfy
    * the window's ClusteredDistribution, so no further shuffle appears. */
  private def dedupAfterExchange(exchanged: DataFrame, keyCols: Seq[String]): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kc = keyCols.map(col)
    val win = Window.partitionBy(kc: _*).orderBy(col(LsnCol).desc)
    exchanged
      .sortWithinPartitions(kc :+ col(LsnCol).desc: _*)
      .withColumn("_rn", row_number().over(win))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /**
   * Arg-max fold, optionally salted (two-phase: per (key, salt) pre-reduce,
   * then per key — exact because max-by-lsn is associative; engaged only
   * under real skew, see `merge`).
   *
   * Uses the native `max_row_by_long` TypedImperativeAggregate rather than
   * built-in `max_by`: max_by's immutable buffer types force SortAggregate
   * (a per-partition sort of every row on both sides of the shuffle), while
   * the native aggregate runs in ObjectHashAggregateExec with map-side
   * partial combine. Set `useNative = false` to fall back to max_by (kept
   * for A/B benchmarking and as the all-built-ins path).
   */
  def resolveMaxLsn(union: DataFrame, keyCols: Seq[String], saltBuckets: Int,
      useNative: Boolean = true): DataFrame = {
    val all = union.columns.toSeq
    def bt(c: String) = s"`$c`"
    val ev = struct(all.map(col): _*)
    val argMax: (Column, Column) => Column =
      if (useNative) {
        graft.functions.GraftFunctions.register(union.sparkSession)
        (v, o) => call_function(graft.functions.GraftFunctions.MaxRowByLongName, v, o)
      } else {
        (v, o) => max_by(v, o)
      }
    if (saltBuckets <= 1) {
      union.groupBy(keyCols.map(col): _*)
        .agg(argMax(ev, col(LsnCol)).as("_e"))
        .select(all.map(c => col(s"_e.${bt(c)}").as(c)): _*)
    } else {
      val salted = union
        .groupBy((keyCols.map(col) :+ pmod(xxhash64(col(LsnCol)), lit(saltBuckets)).as("_salt")): _*)
        .agg(argMax(ev, col(LsnCol)).as("_e"))
      salted.groupBy(keyCols.map(col): _*)
        .agg(argMax(col("_e"), col(s"_e.$LsnCol")).as("_e"))
        .select(all.map(c => col(s"_e.${bt(c)}").as(c)): _*)
    }
  }

  /**
   * Split manifest files into (touched, untouched) by first-key bounds, all
   * in KeyCodec's single (UTF-8 byte / numeric) ordering. `keySet` is the
   * batch's exact sorted ENCODED key set when known (collected in the stats
   * pass); otherwise falls back to (keyLo, keyHi) range intersection (also
   * from the stats pass — no extra scan). Files with null bounds (unsupported
   * key type at write time) are always touched.
   */
  private def pruneFiles(
      files: List[DataFile],
      prunable: Boolean,
      keySet: Option[Array[String]],
      keyLo: String,
      keyHi: String): (List[DataFile], List[DataFile]) = {
    if (files.isEmpty) return (Nil, Nil)
    def unknownBounds(f: DataFile) = f.minKey == null || f.maxKey == null
    keySet match {
      case Some(sorted) =>
        def intersects(f: DataFile): Boolean = unknownBounds(f) || {
          // lowest batch key >= file.minKey; touched iff it also <= maxKey
          var lo = 0; var hi = sorted.length
          while (lo < hi) {
            val mid = (lo + hi) >>> 1
            if (KeyCodec.compare(sorted(mid), f.minKey) < 0) lo = mid + 1 else hi = mid
          }
          lo < sorted.length && KeyCodec.compare(sorted(lo), f.maxKey) <= 0
        }
        files.partition(intersects)
      case None if prunable && keyLo != null && keyHi != null =>
        files.partition(f => unknownBounds(f) ||
          (KeyCodec.compare(f.maxKey, keyLo) >= 0 && KeyCodec.compare(f.minKey, keyHi) <= 0))
      case None =>
        (files, Nil) // no usable bounds: every file is touched
    }
  }

  private def tablePayload(snap: Snapshot): StructType =
    StructType(snap.schema.fields.filterNot(f => LakeTable.MetaCols.contains(f.name)))

  private def millisSince(t0: Long): Long = (System.nanoTime() - t0) / 1000000L

  /** local-fs recursive delete (staging dirs written then discarded) */
  private def deleteRecursively(dir: String): Unit = {
    val p =
      if (dir.startsWith("file:")) java.nio.file.Paths.get(java.net.URI.create(dir).getPath)
      else java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally s.close()
    }
  }

  /** One JSON line per epoch, written driver-side: a Spark job for a 1-row
    * append costs ~0.5s of serial time per epoch, which at small-epoch sizes
    * dominates; a file create is microseconds. Read back via
    * `LakeTable.metrics` (spark.read.json over the directory). */
  private def writeMetrics(spark: SparkSession, table: LakeTable, s: MergeStats): Unit = {
    import org.json4s.DefaultFormats
    import org.json4s.jackson.Serialization
    val dir = java.nio.file.Paths.get(table.dir, "_metrics")
    java.nio.file.Files.createDirectories(dir)
    java.nio.file.Files.write(
      dir.resolve(f"epoch-${s.ckptId}-${s.epochId}%010d.json"),
      Serialization.write(s)(DefaultFormats).getBytes(java.nio.charset.StandardCharsets.UTF_8))
    ()
  }
}
