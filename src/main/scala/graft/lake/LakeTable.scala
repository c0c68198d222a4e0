package graft.lake

import java.nio.file.{Files, Paths}
import java.nio.charset.StandardCharsets

import scala.jdk.CollectionConverters._

import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/**
 * Minimal Iceberg-style lake table: an append-only log of JSON snapshots,
 * each pointing at immutable MANIFEST files that list immutable parquet data
 * files with per-file key/lsn bounds, plus a per-checkpoint epoch
 * high-watermark for exactly-once commits.
 *
 * This plays the role the destination SQL database plays for the reference's
 * SQLWriter upserts (/root/reference/processors/sql_writer.go:21-80,
 * /root/reference/util/sql.go:269-284): the thing that makes at-least-once
 * delivery converge. Here convergence is stronger — idempotent by epoch
 * (a replayed (checkpointId, epochId) commit is a no-op) and deterministic
 * (max-LSN-wins fold), so replay reproduces the final state bit-for-bit.
 *
 * Metadata scaling (the 10^10-event story): a snapshot JSON holds O(#manifests)
 * state — schema, manifest REFS (name + aggregate stats + key range, ~200
 * bytes each), and one high-watermark per checkpoint — never the full file
 * list or an epoch ledger that grows with history. A commit writes one
 * manifest with the epoch's added files, carries clean manifests over by ref,
 * and rewrites only manifests that lost a file; when the manifest list grows
 * past a threshold, SMALL manifests fold together while manifests past the
 * seal size are never folded again (size-tiered, like Iceberg's manifest
 * tiers — see commitChange). Ref stats let the hot path (fold triggers,
 * totals, whole-manifest pruning) run without parsing any manifest. So
 * per-epoch commit cost is O(new files + touched manifests), amortized
 * O(new files), where the old design re-serialized O(all files + all epochs)
 * JSON every epoch — cumulative O(epochs^2) driver time. At 10^6 data files a
 * snapshot carries ~(10^6/seal + threshold) refs ≈ 70 KB.
 *
 * Epoch watermark semantics: epoch ids within one checkpoint id must be
 * applied in increasing order (Structured Streaming's contract for
 * foreachBatch batchIds). An epoch <= the recorded watermark is a replay and
 * must no-op.
 *
 * Layout:
 *   dir/_snapshots/v{version%020d}.json   — snapshot log (atomic rename commit)
 *   dir/_manifests/m{version}[-c].json    — immutable data-file lists
 *   dir/data/v{version}/part-*.parquet    — immutable data files
 *   dir/_metrics/                         — per-epoch merge metrics (JSON lines)
 *
 * Stored schema = user payload columns + metadata columns:
 *   _lsn: long       — lsn of the change that produced this row version
 *   _deleted: bool   — tombstone (kept so a late lower-lsn insert cannot
 *                      resurrect a deleted key; filtered out by `read`)
 *
 * Schema evolution is add-column-only (`SchemaMerge.merge`), mirroring the
 * reference's dynamic column union (/root/reference/util/sql.go:300-317).
 */
final case class DataFile(
    path: String,
    rows: Long,
    /** first-key bounds in KeyCodec order-preserving encoding */
    minKey: String,
    maxKey: String,
    minLsn: Long,
    maxLsn: Long,
    addedAtVersion: Long,
    /** merge-on-read delta: unresolved change rows, folded at read/compaction */
    delta: Boolean = false)

/**
 * Snapshot-level manifest entry: the manifest's name plus the aggregate
 * stats the per-epoch hot paths need, so a commit can decide fold triggers,
 * file-count/row totals and (via the key range) whole-manifest pruning
 * WITHOUT parsing any manifest file. `minKey`/`maxKey` are in KeyCodec
 * encoding; null = unknown (some file in the manifest has unknown bounds,
 * so the manifest can never be skipped by range).
 */
final case class ManifestRef(
    name: String,
    files: Int,
    rows: Long,
    deltaFiles: Int,
    deltaRows: Long,
    minKey: String,
    maxKey: String,
    /** highest `_lsn` across member files — the auto-LSN high-watermark:
      * lets SQL-face / plain-shape writers assign lsns above the table max
      * with O(manifest count) driver work instead of parsing every manifest
      * (at the design's 10^6-file point, ~10^6 entries per INSERT).
      * Additive field: json4s defaults it to -1 ("unknown") for refs written
      * before it existed, and consumers fall back to the full walk. */
    maxLsn: Long = -1L)

object ManifestRef {
  def of(name: String, files: List[DataFile]): ManifestRef = {
    val deltas = files.filter(_.delta)
    val known = files.forall(f => f.minKey != null && f.maxKey != null)
    ManifestRef(name, files.size, files.map(_.rows).sum,
      deltas.size, deltas.map(_.rows).sum,
      if (known && files.nonEmpty) files.map(_.minKey).min(KeyCodec.ordering) else null,
      if (known && files.nonEmpty) files.map(_.maxKey).max(KeyCodec.ordering) else null,
      if (files.nonEmpty) files.map(_.maxLsn).max else -1L)
  }
}

final case class Snapshot(
    version: Long,
    parentVersion: Long,
    schemaJson: String,
    /** merge key columns, fixed at table creation — merges and compactions
      * derive the key from here so manifest bounds can never be computed on
      * the wrong column */
    keyCols: List[String],
    /** manifest entries (files under dir/_manifests; contents immutable) with
      * per-manifest aggregate stats + key range — see [[ManifestRef]] */
    manifests: List[ManifestRef],
    /** exactly-once ledger: highest applied epochId per checkpointId */
    epochHwm: Map[String, Long],
    /** partial-column (sparse) upsert mode, fixed at table creation: update
      * events may carry only a subset of payload columns (null = "unchanged")
      * and resolution folds PER COLUMN by cell lsn — see
      * [[graft.merge.MergeInto.resolveSparse]]. Additive field: json4s
      * defaults it to false for snapshots written before it existed. */
    sparse: Boolean = false,
    /** on-disk layout version — see [[LakeTable.FormatVersion]]. The default
      * only feeds SERIALIZATION of newly built snapshots; reads go through a
      * presence check that fails loudly on missing/unknown versions (json4s
      * would otherwise default a missing collection field to empty and
      * silently read an incompatible table as EMPTY — losing the epoch
      * ledger and re-applying replayed epochs). */
    formatVersion: Int = LakeTable.FormatVersion) {
  def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
}

object LakeTable extends Logging {
  val LsnCol = "_lsn"
  val DeletedCol = "_deleted"
  val CellLsnCol = "_cell_lsn"
  /** sparse tables only: the key's newest-delete lsn, persisted THROUGH folds.
    * Without it a fold that keeps a post-delete row would forget the
    * tombstone's lsn, and a later epoch's late event with a cell lsn below
    * the (forgotten) delete would resurrect dead cells — the fold would not
    * be associative and final state would depend on when compaction ran. */
  val DelLsnCol = "_del_lsn"
  val MetaCols: Seq[String] = Seq(LsnCol, DeletedCol, CellLsnCol, DelLsnCol)
  /** current snapshot-JSON layout (3 = manifest entries carry per-manifest
    * stats + key range for parse-free commits and manifest-level pruning;
    * 2 was bare manifest names — upgradable via [[stampFormatVersion]];
    * 1 was the round-1 files/epochs form, no longer readable) */
  val FormatVersion = 3
  private implicit val fmts: Formats = DefaultFormats

  /** start folding small manifests together once the list exceeds this */
  private val ManifestCompactThreshold = 32
  /** a manifest at/above this many entries is SEALED: never folded again,
    * only rewritten if it loses a file. Folds therefore touch O(seal +
    * threshold x epoch-adds) entries, never O(all files) — the old fold-all
    * re-serialized every entry in the table each ~threshold epochs, which at
    * 10^10 events / 500k-row files is 10^5+ JSON entries on the driver. */
  private[graft] val ManifestSealEntries = 4096

  /** Manifest contents are immutable => a global cache is safe. Bounded LRU
    * (access-order), capped by TOTAL cached DataFile entries rather than
    * manifest count: at the design's own 10^6-file point a snapshot carries
    * ~(10^6/seal + threshold) ≈ 276 manifests, so a 256-manifest cap would
    * make every sequential full-table scan a 100% miss (each entry evicted
    * just before reuse). 2^21 entries ≈ a few hundred MB holds 2x that
    * table's whole metadata; compaction/vacuum orphan old entries and the
    * LRU ages them out. */
  private object manifestCache {
    private val MaxTotalEntries = 1L << 21
    private val map =
      new java.util.LinkedHashMap[String, List[DataFile]](64, 0.75f, true)
    private var totalEntries = 0L
    def get(k: String): List[DataFile] = synchronized(map.get(k))
    def put(k: String, v: List[DataFile]): Unit = synchronized {
      val old = map.put(k, v)
      totalEntries += v.size.toLong - (if (old == null) 0L else old.size.toLong)
      val it = map.entrySet().iterator()
      var done = false
      while (!done && totalEntries > MaxTotalEntries && it.hasNext) {
        val e = it.next() // eldest first (access order)
        if (e.getKey == k) done = true // never evict the just-inserted entry
        else { totalEntries -= e.getValue.size.toLong; it.remove() }
      }
    }
    def remove(k: String): Unit = synchronized {
      val old = map.remove(k)
      if (old != null) totalEntries -= old.size.toLong
    }
    def clear(): Unit = synchronized { map.clear(); totalEntries = 0L }
  }

  /** test instrumentation: number of manifest files parsed from disk */
  private[graft] val manifestParses = new java.util.concurrent.atomic.AtomicLong
  private[graft] def clearManifestCacheForTest(): Unit = manifestCache.clear()

  private[lake] val nonceCounter =
    new java.util.concurrent.atomic.AtomicLong(System.nanoTime() >>> 8)

  def metaFields: Seq[StructField] = metaFields(sparse = false)

  /** Metadata columns: lsn + tombstone flag; sparse tables additionally
    * store per-column cell lsns (column name -> lsn of the event that set
    * it) — the provenance that makes partial-column folds associative
    * across epochs under out-of-order delivery. */
  def metaFields(sparse: Boolean): Seq[StructField] = {
    val base = Seq(
      StructField(LsnCol, LongType, nullable = true),
      StructField(DeletedCol, BooleanType, nullable = true))
    if (sparse)
      base ++ Seq(
        StructField(CellLsnCol, MapType(StringType, LongType), nullable = true),
        StructField(DelLsnCol, LongType, nullable = true))
    else base
  }

  /** Create an empty table with the given payload schema and merge key.
    * `sparseUpdates` turns on partial-column upserts (null payload column in
    * an update event = "keep the incumbent value"); it is a table-level
    * property because READS must fold with the same per-column rule. */
  def create(dir: String, payloadSchema: StructType,
      keyCols: Seq[String] = Seq("conv_id", "turn_idx"),
      sparseUpdates: Boolean = false): LakeTable = {
    require(keyCols.nonEmpty && keyCols.forall(payloadSchema.fieldNames.contains),
      s"key columns $keyCols must exist in the payload schema")
    val t = new LakeTable(dir)
    Files.createDirectories(Paths.get(dir, "_snapshots"))
    Files.createDirectories(Paths.get(dir, "_manifests"))
    Files.createDirectories(Paths.get(dir, "data"))
    val stored = StructType(payloadSchema.fields.toSeq ++ metaFields(sparseUpdates))
    t.commit(Snapshot(0L, -1L, stored.json, keyCols.toList, Nil, Map.empty,
      sparseUpdates))
    t
  }

  /**
   * In-place migrator for tables written by older or unversioned builds:
   *  - v2 snapshots (manifests as bare name strings — stamped or unstamped)
   *    are upgraded to v3 by parsing each referenced manifest and computing
   *    its [[ManifestRef]] stats;
   *  - unstamped snapshots already in v3 field shape are just stamped.
   * Snapshots that carry NEITHER layout's marker fields are refused (a
   * genuine pre-v2 layout cannot be stamped — json4s would read it as an
   * empty table with a blank exactly-once ledger). Returns the number of
   * snapshots rewritten.
   */
  def stampFormatVersion(dir: String): Int = {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val snapDir = Paths.get(dir, "_snapshots")
    val mDir = Paths.get(dir, "_manifests")
    require(Files.isDirectory(snapDir), s"not a lake table: $dir")
    val s = Files.list(snapDir)
    val snaps = try s.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.endsWith(".json")).toList
    finally s.close()
    val headVersion =
      if (snaps.isEmpty) -1L
      else snaps.map(n => n.stripPrefix("v").stripSuffix(".json").toLong).max
    def refOf(name: String): ManifestRef =
      ManifestRef.of(name, Serialization.read[List[DataFile]](
        new String(Files.readAllBytes(mDir.resolve(name)), StandardCharsets.UTF_8))(
        fmts, manifest[List[DataFile]]))
    snaps.count { name =>
      val p = snapDir.resolve(name)
      val raw = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
      val ast = JsonMethods.parse(raw)
      val fv = ast \ "formatVersion"
      val compatible = Seq("keyCols", "manifests", "epochHwm", "schemaJson")
        .forall(f => (ast \ f) != JNothing)
      (fv, ast \ "manifests") match {
        case (JInt(v), _) if v == FormatVersion => false // current — untouched
        case (JInt(v), _) if v != 2 => throw new IllegalStateException(
          s"$dir/$name: formatVersion $v has no migration path to $FormatVersion")
        case (_, mf) =>
          require(compatible,
            s"$dir/$name: layout is genuinely pre-v2 (missing " +
              "keyCols/manifests/epochHwm fields) — cannot stamp; recreate the table")
          val upgraded: Option[JValue] = mf match {
            case JArray(items) if items.forall(_.isInstanceOf[JString]) =>
              // v2 shape: names only -> compute refs from manifest contents.
              // A NON-HEAD snapshot whose manifest a prior interrupted vacuum
              // already deleted is a state the read and vacuum paths
              // explicitly tolerate; the migration must tolerate it too —
              // skip that snapshot (time travel to it was already gone; the
              // next vacuum retires it) instead of aborting the whole
              // migration. The HEAD snapshot gets no such pass: a missing
              // head manifest is real corruption.
              try Some(items.collect { case JString(n) => refOf(n) })
                .map(refs => ast.transformField { case JField("manifests", _) =>
                  JField("manifests", Extraction.decompose(refs)(fmts))
                })
              catch {
                case e: java.nio.file.NoSuchFileException
                    if name.stripPrefix("v").stripSuffix(".json").toLong != headVersion =>
                  logWarning(s"stampFormatVersion: skipping $name — manifest " +
                    s"already vacuumed (${e.getMessage})")
                  None
              }
            case _ => Some(ast) // already v3-shaped, just unstamped
          }
          if (upgraded.isEmpty) false else {
          val stamped = upgraded.get merge JObject("formatVersion" -> JInt(FormatVersion))
          // atomic replace (write tmp, rename over): an in-place truncate+
          // write would leave the ONLY copy of this snapshot empty/partial
          // if the migration crashes mid-write
          val tmp = p.resolveSibling(p.getFileName.toString + ".stamp.tmp")
          Files.write(tmp, JsonMethods.compact(JsonMethods.render(stamped))
            .getBytes(StandardCharsets.UTF_8))
          Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
            java.nio.file.StandardCopyOption.REPLACE_EXISTING)
          true
          }
      }
    }
  }

  def load(dir: String): LakeTable = {
    require(Files.isDirectory(Paths.get(dir, "_snapshots")), s"not a lake table: $dir")
    new LakeTable(dir)
  }

  def exists(dir: String): Boolean = Files.isDirectory(Paths.get(dir, "_snapshots"))
}

final class LakeTable(val dir: String) {
  import LakeTable._
  private implicit val fmts: Formats = DefaultFormats

  private def snapDir = Paths.get(dir, "_snapshots")
  private def manifestDir = Paths.get(dir, "_manifests")

  private def versionOf(name: String): Long =
    name.stripPrefix("v").stripSuffix(".json").toLong

  private def snapPath(v: Long) = snapDir.resolve(f"v$v%020d.json")

  /** last head version this instance observed — commits are dense, so head
    * discovery probes FORWARD from here (O(new commits)) instead of listing
    * the whole snapshot log (O(all epochs) per epoch: at 10^6 committed
    * epochs a directory listing per merge is the same scaling class as the
    * fold-all manifest bug). -1 = cold, fall back to one full listing. */
  private val versionHint = new java.util.concurrent.atomic.AtomicLong(-1L)
  /** test instrumentation: number of full snapshot-log listings */
  private[graft] val snapshotListScans = new java.util.concurrent.atomic.AtomicLong

  def currentVersion: Long = {
    val hinted = versionHint.get()
    if (hinted >= 0) {
      var v = hinted
      while (Files.exists(snapPath(v + 1))) v += 1
      // the hint itself may have been vacuumed while versions above it were
      // too (probe would stall below the retention floor) — verify before
      // trusting; an existing probed head is authoritative because versions
      // are dense and vacuum never removes the current snapshot
      if (Files.exists(snapPath(v))) {
        versionHint.updateAndGet(m => math.max(m, v))
        return v
      }
    }
    snapshotListScans.incrementAndGet()
    val vs = Files.list(snapDir).iterator().asScala
      .map(_.getFileName.toString).filter(n => n.startsWith("v") && n.endsWith(".json"))
      .map(versionOf).toSeq
    val max = if (vs.isEmpty) -1L else vs.max
    versionHint.updateAndGet(m => math.max(m, max))
    max
  }

  def snapshot(version: Long): Snapshot = {
    val p = snapDir.resolve(f"v$version%020d.json")
    if (!Files.exists(p)) {
      // clear error surface instead of a NoSuchFileException (or, worse, a
      // mid-scan FNF): the caller asked for history that retention removed
      val earliest =
        try Some(availableVersions.min) catch { case _: Exception => None }
      throw new IllegalStateException(
        s"snapshot v$version of $dir is not available" +
          earliest.fold(" (table has no snapshots)")(e =>
            if (version < e) s": vacuumed past the retention floor (earliest retained: v$e)"
            else s" (latest: v$currentVersion)"))
    }
    val raw = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)
    // loud format gate BEFORE case-class extraction: json4s defaults missing
    // collection fields to empty, so an old-layout snapshot would otherwise
    // extract as an EMPTY table with a blank exactly-once ledger
    val fv = org.json4s.jackson.JsonMethods.parse(raw) \ "formatVersion"
    fv match {
      case org.json4s.JInt(v) if v == FormatVersion => ()
      case org.json4s.JInt(v) => throw new IllegalStateException(
        s"$dir: snapshot v$version has formatVersion $v; this build reads " +
          s"only $FormatVersion — " +
          (if (v == BigInt(2)) "run LakeTable.stampFormatVersion(dir) to upgrade v2 " +
            "snapshots in place, or use a matching build"
          else "migrate the table or use a matching build"))
      case _ => throw new IllegalStateException(
        s"$dir: snapshot v$version carries no formatVersion — written by an " +
          s"unversioned build (the field layout may well be v$FormatVersion-" +
          "compatible, it is just unstamped). Run " +
          "LakeTable.stampFormatVersion(dir) to migrate field-compatible " +
          "snapshots in place, or recreate the table")
    }
    Serialization.read[Snapshot](raw)(fmts, manifest[Snapshot])
  }

  /** snapshot versions still present on disk (vacuum removes old ones) */
  def availableVersions: Seq[Long] = {
    val s = Files.list(snapDir)
    try s.iterator().asScala.map(_.getFileName.toString)
      .filter(n => n.startsWith("v") && n.endsWith(".json")).map(versionOf).toList.sorted
    finally s.close()
  }

  def currentSnapshot: Snapshot = snapshot(currentVersion)

  /** Stored schema (payload + metadata cols). */
  def storedSchema: StructType = currentSnapshot.schema

  /** User-facing payload schema. */
  def payloadSchema: StructType =
    StructType(storedSchema.fields.filterNot(f => MetaCols.contains(f.name)))

  def hasEpoch(ckptId: String, epochId: Long): Boolean =
    currentSnapshot.epochHwm.get(ckptId).exists(_ >= epochId)

  /** All data files of a snapshot (reads manifests; cached — contents are
    * immutable, so repeated epochs only hit disk for NEW manifests). */
  def files(snap: Snapshot): List[DataFile] =
    snap.manifests.flatMap(m => readManifest(m.name))

  def currentFiles: List[DataFile] = files(currentSnapshot)

  /** Highest `_lsn` in the table (floor 0), from snapshot manifest REFS —
    * O(manifest count) driver work, no manifest parsed. Refs written before
    * the maxLsn field (or holding only unknown file bounds) read as -1 and
    * fall back to the full file walk — slower, never wrong. This is the
    * auto-LSN assignment watermark for the SQL-face append and the streaming
    * sink's plain-rows shape. */
  def maxLsn(snap: Snapshot): Long = {
    if (snap.manifests.isEmpty) 0L
    else if (snap.manifests.forall(_.maxLsn >= 0L))
      math.max(0L, snap.manifests.map(_.maxLsn).max)
    else (files(snap).map(_.maxLsn) :+ 0L).max
  }

  /**
   * Data files of only the manifests whose key range intersects the given
   * ENCODED bound envelope — manifest-level pruning: non-intersecting
   * manifests are not even parsed (refs with unknown bounds always read).
   * Callers pair this with per-file pruning; the snapshot's ref stats cover
   * totals, so skipped manifests never need listing.
   */
  def filesIntersecting(snap: Snapshot, keyLo: String, keyHi: String): List[DataFile] =
    snap.manifests
      .filter(m => m.minKey == null || m.maxKey == null ||
        (KeyCodec.compare(m.maxKey, keyLo) >= 0 && KeyCodec.compare(m.minKey, keyHi) <= 0))
      .flatMap(m => readManifest(m.name))

  private def readManifest(name: String): List[DataFile] = {
    val p = manifestDir.resolve(name).toString
    val cached = manifestCache.get(p)
    if (cached != null) cached
    else {
      LakeTable.manifestParses.incrementAndGet()
      val parsed = Serialization.read[List[DataFile]](
        new String(Files.readAllBytes(Paths.get(p)), StandardCharsets.UTF_8))(
        fmts, manifest[List[DataFile]])
      manifestCache.put(p, parsed)
      parsed
    }
  }

  private def writeManifest(name: String, files: List[DataFile]): Unit = {
    val p = manifestDir.resolve(name)
    Files.write(p, Serialization.write(files)(fmts).getBytes(StandardCharsets.UTF_8))
    manifestCache.put(p.toString, files)
    ()
  }

  /**
   * Build + atomically commit the next snapshot from a change set:
   * `removedPaths` leave the table (rewritten by CoW merge / compaction),
   * `added` enter it, `epoch` advances the exactly-once watermark.
   * Clean manifests carry over by ref; dirty ones are rewritten without
   * their removed files; added files get one new manifest. Returns the
   * committed snapshot.
   *
   * Commit metadata cost: a pure-append commit (MoR epochs — removedPaths
   * empty) parses NO manifests at all; refs carry the stats. With removals,
   * `removedBounds` (the encoded key envelope of the removed files, when the
   * caller knows it) lets non-intersecting manifests stay unparsed — a
   * manifest's ref range contains every member file's range, so a manifest
   * outside the envelope cannot hold a removed path.
   *
   * Manifest folding is size-TIERED, never fold-all: when the list exceeds
   * the threshold, only manifests below [[LakeTable.ManifestSealEntries]]
   * entries fold together; a manifest that grows past the seal is never
   * folded again (only rewritten if it loses a file). Each data-file entry
   * is therefore re-serialized O(seal/epoch-adds) times over its life and
   * fold work is bounded by O(seal + threshold x epoch-adds) entries —
   * independent of table size, where fold-all re-wrote every entry in the
   * table each ~threshold epochs.
   *
   * Optimistic concurrency with DISJOINT-writer retry: losing a version race
   * (e.g. compaction committing while ingest merges) reloads the head and
   * re-commits there, provided the change set still applies — every removed
   * path must still be present at the head and the epoch watermark must not
   * have advanced past this epoch (either would mean the two writers touched
   * the same files/ledger, which single-stream-per-checkpoint topology rules
   * out but a misconfigured second stream would not). Schemas rebase by
   * add-column merge. Manifest names carry a per-attempt nonce, so a losing
   * attempt can never overwrite the winner's just-committed manifest.
   */
  def commitChange(
      base: Snapshot,
      schemaJson: String,
      removedPaths: Set[String],
      added: List[DataFile],
      epoch: Option[(String, Long)],
      maxRetries: Int = 5,
      removedBounds: Option[(String, String)] = None): Snapshot = {
    var cur = base
    var curSchemaJson = schemaJson
    var attempt = 0
    while (true) {
      val version = cur.version + 1
      def mayContainRemoved(m: ManifestRef): Boolean =
        removedBounds.isEmpty || m.minKey == null || m.maxKey == null || {
          val (lo, hi) = removedBounds.get
          KeyCodec.compare(m.maxKey, lo) >= 0 && KeyCodec.compare(m.minKey, hi) <= 0
        }
      val (clean, dirty) =
        if (removedPaths.isEmpty) (cur.manifests, Nil)
        else cur.manifests.partition(m => !mayContainRemoved(m) ||
          !readManifest(m.name).exists(f => removedPaths(f.path)))
      val survivors = dirty.flatMap(m => readManifest(m.name))
        .filterNot(f => removedPaths(f.path))
      // a rebase shifts the commit version; CDC-out (`readChangesBetween`)
      // selects delta files by addedAtVersion == commit version, so the
      // added entries must carry the version they actually land at
      val addedAt = added.map(a =>
        if (a.addedAtVersion == version) a else a.copy(addedAtVersion = version))
      val newFiles = survivors ++ addedAt
      val written = scala.collection.mutable.ListBuffer.empty[String]
      var manifests = clean
      if (newFiles.nonEmpty) {
        val name = f"m$version%020d-${nonce()}.json"
        writeManifest(name, newFiles)
        written += name
        manifests = clean :+ ManifestRef.of(name, newFiles)
      }
      if (manifests.size > ManifestCompactThreshold) {
        // size-tiered fold: only sub-seal manifests merge; sealed ones carry
        // over untouched (see the method doc — fold work is O(seal), never
        // O(table))
        val (sealedM, small) = manifests.partition(_.files >= ManifestSealEntries)
        if (small.size >= 2) {
          val foldedFiles = small.flatMap(m => readManifest(m.name))
          val name = f"m$version%020d-${nonce()}-c.json"
          writeManifest(name, foldedFiles)
          written += name
          manifests = sealedM :+ ManifestRef.of(name, foldedFiles)
        }
      }
      val hwm = epoch.fold(cur.epochHwm) { case (ck, e) =>
        cur.epochHwm.updated(ck, math.max(e, cur.epochHwm.getOrElse(ck, Long.MinValue)))
      }
      val next = Snapshot(version, cur.version, curSchemaJson, cur.keyCols,
        manifests, hwm, cur.sparse)
      try {
        commit(next)
        return next
      } catch {
        case e: IllegalStateException if attempt < maxRetries =>
          // lost the race: drop this attempt's manifests (they are referenced
          // by nothing), rebase onto the new head, validate disjointness
          written.foreach { m =>
            manifestCache.remove(manifestDir.resolve(m).toString)
            Files.deleteIfExists(manifestDir.resolve(m)); ()
          }
          attempt += 1
          val head = currentSnapshot
          val headPaths = files(head).map(_.path).toSet
          val missing = removedPaths.filterNot(headPaths)
          if (missing.nonEmpty)
            throw new IllegalStateException(
              s"commit conflict is NOT disjoint: a concurrent commit already " +
                s"removed ${missing.take(3).mkString(", ")}" +
                (if (missing.size > 3) s" (+${missing.size - 3} more)" else ""), e)
          epoch.foreach { case (ck, ep) =>
            if (head.epochHwm.get(ck).exists(_ >= ep))
              throw new IllegalStateException(
                s"commit conflict on the epoch ledger: ($ck, $ep) was already " +
                  "applied by a concurrent writer", e)
          }
          curSchemaJson = SchemaMerge.merge(head.schema,
            DataType.fromJson(curSchemaJson).asInstanceOf[StructType]).json
          cur = head
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** process-unique manifest-name nonce; nanoTime-seeded so two JVMs writing
    * the same table are collision-free in practice as well */
  private def nonce(): String = f"${LakeTable.nonceCounter.incrementAndGet()}%012x"

  /** Unique staging directory for one commit attempt's data files. The
    * version hint is advisory (a rebased commit may land at a later
    * version); the nonce is what matters — two concurrent writers staging
    * with a bare `data/v{N}` would `overwrite`-delete each other's files
    * mid-write. Manifests store absolute paths, so the name never needs to
    * match the committed version. */
  def newDataDir(versionHint: Long): String = s"$dir/data/v$versionHint-${nonce()}"

  /**
   * Atomic test-and-set commit of the next snapshot file: write a temp file,
   * then hard-link it to the versioned name. link(2) is atomic AND fails if
   * the target exists — unlike rename(2), which on POSIX silently REPLACES
   * an existing file (ATOMIC_MOVE gives no exclusivity), so a version race
   * would overwrite the winner's snapshot instead of failing. Losing the
   * race raises IllegalStateException for `commitChange`'s rebase retry.
   */
  def commit(s: Snapshot): Unit = {
    val target = snapDir.resolve(f"v${s.version}%020d.json")
    val tmp = snapDir.resolve(f".v${s.version}%020d-${nonce()}.json.tmp")
    Files.write(tmp, Serialization.write(s)(fmts).getBytes(StandardCharsets.UTF_8))
    try {
      Files.createLink(target, tmp)
      versionHint.updateAndGet(m => math.max(m, s.version))
    } catch {
      case e: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalStateException(
          s"concurrent commit detected at version ${s.version}", e)
    } finally {
      Files.deleteIfExists(tmp); ()
    }
  }

  /** Raw stored rows (incl. tombstones + metadata cols) at a snapshot. */
  def readRaw(spark: SparkSession, snap: Snapshot): DataFrame =
    readRawFiles(spark, snap.schema, files(snap))

  private def readRawFiles(spark: SparkSession, schema: StructType,
      fs: List[DataFile]): DataFrame = {
    if (fs.isEmpty) {
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    } else {
      // Explicit schema (not inferred) => files written before a column was
      // added read as null for that column — add-column schema evolution
      // without rewriting history.
      spark.read.schema(schema).parquet(fs.map(_.path): _*)
    }
  }

  def readRaw(spark: SparkSession): DataFrame = readRaw(spark, currentSnapshot)

  /** Current table contents (tombstones filtered, metadata cols dropped). */
  def read(spark: SparkSession): DataFrame = readAt(spark, currentVersion)

  /** Per-epoch merge metrics table (throughput/lineage surface; one JSON-line
    * row per committed epoch — see MergeStats). Empty before first merge. */
  def metrics(spark: SparkSession): DataFrame = {
    val p = Paths.get(dir, "_metrics")
    if (Files.isDirectory(p)) spark.read.json(p.toString)
    else spark.emptyDataFrame
  }

  /**
   * Incremental consumption (CDC out): the resolved change rows committed in
   * snapshot versions (sinceVersion, untilVersion]. Each merge-on-read epoch
   * writes its batch as resolved delta files, so those files ARE the change
   * stream: payload columns + `_lsn` + `_deleted` = an upsert/delete
   * changelog a downstream pipeline can apply idempotently. Fold/compaction
   * commits add no logical changes and are skipped naturally (their files
   * carry delta=false).
   *
   * Defined for MoR ingest; CoW commits rewrite files that carry old rows
   * forward, so their adds are not a change stream — such versions yield
   * nothing here, by the delta flag.
   *
   * Retention contract: a consumer must keep up WITHIN the vacuum window.
   * Asking for changes from a version the vacuum floor has passed raises the
   * named "vacuumed past the retention floor" error (via `snapshot`) rather
   * than silently returning a partial stream — the consumer must re-sync
   * from a full snapshot at that point, exactly like a binlog client whose
   * position aged out of the server's log retention.
   */
  def readChangesBetween(spark: SparkSession, sinceVersion: Long,
      untilVersion: Long): DataFrame = {
    val changeFiles = changeFilesBetween(sinceVersion, untilVersion)
    val schema = snapshot(untilVersion).schema
    if (changeFiles.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else
      spark.read.schema(schema).parquet(changeFiles.map(_.path): _*)
  }

  /**
   * The delta files committed in versions (sinceVersion, untilVersion] —
   * metadata half of `readChangesBetween`. Per-version resolution parses
   * ONLY the manifests NEW at that version: a commit writes its added files
   * into manifests named `m{version}-*` (the plain add or the same-commit
   * `-c` fold — both carry the prefix), so a version's change files never
   * require the snapshot's OTHER manifests. A consumer catching up over
   * 10^4 versions of a 10^6-file table therefore parses O(new manifests),
   * not O(versions x table manifests) — asserted with parse counters in
   * ManifestTierSpec. The snapshot JSONs themselves are still read per
   * version (tiny, and the source of the named retention error when the
   * range fell behind vacuum).
   */
  private[graft] def changeFilesBetween(sinceVersion: Long,
      untilVersion: Long): List[DataFile] =
    (sinceVersion + 1 to untilVersion).toList.flatMap { v =>
      val prefix = f"m$v%020d-"
      snapshot(v).manifests.filter(_.name.startsWith(prefix))
        .flatMap(m => readManifest(m.name))
        .filter(f => f.delta && f.addedAtVersion == v)
    }.distinct

  def readChangesSince(spark: SparkSession, sinceVersion: Long): DataFrame =
    readChangesBetween(spark, sinceVersion, currentVersion)

  /** Time travel: table contents as of a given snapshot version. */
  def readAt(spark: SparkSession, version: Long): DataFrame =
    readAtIntersecting(spark, version, None, None)

  /**
   * Resolved read restricted to the files whose first-key envelope intersects
   * the given ENCODED bounds (either side optional; `None` = unbounded).
   * Two-level pruning — non-intersecting manifests are never parsed, then
   * non-intersecting files drop from the scan. Exact for any predicate whose
   * rows all satisfy lo <= key <= hi: a key inside the envelope has ALL its
   * row versions (deltas + tombstones) in intersecting files, so merge-on-read
   * resolution sees the full history; keys outside the envelope may surface
   * (files overlap the envelope) and the caller re-applies its predicate.
   * This is the DSv2 scan path ([[graft.spark.GraftDataSource]]).
   */
  private[graft] def readAtIntersecting(spark: SparkSession, version: Long,
      keyLo: Option[String], keyHi: Option[String]): DataFrame = {
    import org.apache.spark.sql.functions.{col, not, coalesce, lit}
    val snap = snapshot(version)
    val payloadCols = snap.schema.fieldNames.filterNot(MetaCols.contains).map(col).toSeq
    def hit(minKey: String, maxKey: String): Boolean =
      minKey == null || maxKey == null ||
        (keyLo.forall(lo => KeyCodec.compare(maxKey, lo) >= 0) &&
          keyHi.forall(hi => KeyCodec.compare(minKey, hi) <= 0))
    val fs =
      if (keyLo.isEmpty && keyHi.isEmpty) files(snap)
      else snap.manifests.filter(m => hit(m.minKey, m.maxKey))
        .flatMap(m => readManifest(m.name))
        .filter(f => hit(f.minKey, f.maxKey))
    val raw = readRawFiles(spark, snap.schema, fs)
    // merge-on-read: unresolved delta rows fold before the tombstone filter
    // (per-column cell-lsn fold for sparse tables, max-lsn rows otherwise);
    // pure-base snapshots skip the fold (already resolved)
    val resolved =
      if (!snap.manifests.exists(_.deltaFiles > 0)) raw
      else if (snap.sparse)
        graft.merge.MergeInto.resolveSparse(raw, snap.keyCols,
          snap.schema.fieldNames.toSeq.filterNot(c =>
            MetaCols.contains(c) || snap.keyCols.contains(c)))
      else
        graft.merge.MergeInto.resolveMaxLsn(raw, snap.keyCols, saltBuckets = 1)
    resolved
      .filter(not(coalesce(col(DeletedCol), lit(false))))
      .select(payloadCols: _*)
  }
}

/** Add-column-only schema merge (type conflicts are errors in v1). */
object SchemaMerge {
  def merge(base: StructType, incoming: StructType): StructType = {
    val byName = base.fields.map(f => f.name -> f).toMap
    incoming.fields.foreach { f =>
      byName.get(f.name).foreach { existing =>
        require(existing.dataType == f.dataType,
          s"schema conflict on '${f.name}': ${existing.dataType} vs ${f.dataType}")
      }
    }
    val added = incoming.fields.filterNot(f => byName.contains(f.name))
      .map(_.copy(nullable = true))
    StructType(base.fields.toSeq ++ added)
  }
}
