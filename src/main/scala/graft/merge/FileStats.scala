package graft.merge

import scala.collection.parallel.CollectionConverters._
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.spark.internal.Logging
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.lake.{DataFile, KeyCodec, LakeTable}

/**
 * Per-file manifest stats for freshly written data files.
 *
 * Fast path: parquet footers already carry exact row counts and per-column
 * min/max, so the manifest entry (rows, key bounds, lsn bounds) comes from a
 * driver-side footer read — no second full scan of the epoch's output, which
 * otherwise doubles merge IO. ANY footer problem (missing/dropped stats, an
 * unreadable or truncated file, a parse error) falls back to the Spark scan
 * path instead of failing the epoch.
 *
 * Key bounds are stored in KeyCodec's order-preserving encoding: parquet
 * keeps binary (string) stats in UTF-8 byte order and integer stats in
 * numeric order, both of which the encoding preserves, so driver-side
 * pruning compares in exactly the order the stats were computed in.
 */
object FileStats extends Logging {

  /** All footer stats present and usable -> Some(files); else None. */
  def fromFooters(spark: SparkSession, outDir: String, k1: String,
      k1Type: DataType, version: Long, delta: Boolean = false): Option[List[DataFile]] = {
    if (!KeyCodec.supports(k1Type)) return None
    val conf = spark.sessionState.newHadoopConf()
    val dir = new Path(outDir)
    try {
      val fs = dir.getFileSystem(conf)
      val parts = fs.listStatus(dir).toList
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      // footer reads are independent metadata fetches; serial they cost
      // ~10ms x files of per-epoch driver time — parallelize
      val files = parts.par.map { st =>
        val reader = ParquetFileReader.open(HadoopInputFile.fromStatus(st, conf))
        try {
          val blocks = reader.getFooter.getBlocks.asScala.toList
          val rows = blocks.map(_.getRowCount).sum
          if (rows == 0L) {
            None // empty part file: drop from manifest
          } else {
            def rawStats(name: String)
                : List[org.apache.parquet.column.statistics.Statistics[_]] =
              blocks.map { b =>
                val c = b.getColumns.asScala
                  .find(_.getPath.toDotString == name)
                  .getOrElse(throw StatsMissing)
                val s = c.getStatistics
                if (s == null || s.isEmpty || !s.hasNonNullValue) throw StatsMissing
                s
              }
            def encKey(v: Any): String = v match {
              case b: Binary => KeyCodec.encode(StringType, b.toStringUsingUTF8)
              case n: Number => KeyCodec.encodeLong(n.longValue())
              case _ => throw StatsMissing
            }
            val kStats = rawStats(k1)
            val minKey = kStats.map(s => encKey(s.genericGetMin)).min(KeyCodec.ordering)
            val maxKey = kStats.map(s => encKey(s.genericGetMax)).max(KeyCodec.ordering)
            val lStats = rawStats(LakeTable.LsnCol)
            def asLong(v: Any): Long = v.asInstanceOf[java.lang.Long].longValue()
            Some(DataFile(st.getPath.toString, rows, minKey, maxKey,
              lStats.map(s => asLong(s.genericGetMin)).min,
              lStats.map(s => asLong(s.genericGetMax)).max, version, delta))
          }
        } finally reader.close()
      }
      Some(files.toList.flatten)
    } catch {
      case StatsMissing => None
      case NonFatal(e) =>
        // recoverable (e.g. a footer parse error): fall back to the scan path
        // rather than failing the merge epoch / restarting the stream
        logWarning(s"footer stats failed for $outDir; falling back to a scan", e)
        None
    }
  }

  /** Fallback: compute stats with a Spark scan of the written files. */
  def fromScan(spark: SparkSession, outDir: String, schema: StructType,
      k1: String, version: Long, delta: Boolean = false): List[DataFile] = {
    val k1Type = schema(k1).dataType
    spark.read.schema(schema).parquet(outDir)
      .groupBy(input_file_name().as("path"))
      .agg(count(lit(1)).as("rows"),
        min(col(k1)).as("minKey"),
        max(col(k1)).as("maxKey"),
        min(col(LakeTable.LsnCol)).as("minLsn"),
        max(col(LakeTable.LsnCol)).as("maxLsn"))
      .collect()
      .map(r => DataFile(r.getString(0), r.getLong(1),
        encodeOrNull(k1Type, r.get(2)), encodeOrNull(k1Type, r.get(3)),
        r.getLong(4), r.getLong(5), version, delta))
      .toList
  }

  /** Unsupported key types store null bounds = unknown (file never pruned). */
  private def encodeOrNull(dt: DataType, v: Any): String =
    if (KeyCodec.supports(dt) && v != null) KeyCodec.encode(dt, v) else null

  private case object StatsMissing extends RuntimeException
}
