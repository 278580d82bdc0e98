package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Catalog of the TESTDATA star schema (see TESTDATA.md).
  *
  * Replaces the reference's connection-manager + schema-mapper layer
  * (/root/reference/parsing/data_engineering_parser.py:75-188,
  * /root/reference/mapping/schema_mapper.py:79-131): instead of regex-
  * rewriting table names inside SQL text, we resolve names through a
  * plain reader registry and let Catalyst do the rest.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** True iff the parquet footer carries a TIMESTAMP(NANOS) column —
    * the one physical timestamp type Spark's reader refuses unless
    * `spark.sql.legacy.parquet.nanosAsLong` surfaces it as epoch-nano
    * longs. Sniffing the footer (a KB-sized read) instead of setting
    * the flag unconditionally keeps the session conf honest: a µs or
    * ms regeneration of the data reads as real timestamps. Walks
    * RECURSIVELY to the first data file, so hive-partitioned layouts
    * sniff the same as single files; results are memoized per
    * (path, root modification time), so an in-JVM regeneration of the
    * dataset at the same path — the exact scenario the sniff defends
    * against — invalidates the old verdict instead of reading through
    * a stale one (directory mtime changes when files are rewritten). */
  private val nanosSniffCache =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Boolean]()

  private def hasNanosTimestamp(spark: SparkSession, path: String): Boolean = {
    val conf = spark.sessionState.newHadoopConf()
    val p = new Path(path)
    val fs = p.getFileSystem(conf)
    // a missing path is NOT memoized — a dataset generated later at
    // the same path in this JVM must be sniffed fresh, not read
    // through a stale negative verdict
    if (!fs.exists(p)) return false
    val cacheKey = s"$path@${fs.getFileStatus(p).getModificationTime}"
    nanosSniffCache.computeIfAbsent(cacheKey, { _ =>
      {
        def firstDataFile(dir: Path): Option[Path] = {
          val (dirs, files) = fs.listStatus(dir)
            .filterNot(_.getPath.getName.startsWith("_"))
            .partition(_.isDirectory)
          files.map(_.getPath).find(_.getName.endsWith(".parquet"))
            .orElse(dirs.map(_.getPath).sortBy(_.getName).view
              .flatMap(firstDataFile).headOption)
        }
        val file =
          if (fs.getFileStatus(p).isDirectory) firstDataFile(p) else Some(p)
        java.lang.Boolean.valueOf(file.exists { f =>
          // read options over `conf`: without them parquet-mr builds
          // (and parses) a fresh Hadoop Configuration for the footer
          val reader = ParquetFileReader.open(HadoopInputFile.fromPath(f, conf),
            HadoopReadOptions.builder(conf).build())
          try reader.getFileMetaData.getSchema.getColumns.asScala.exists { cd =>
            cd.getPrimitiveType.getLogicalTypeAnnotation match {
              case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
                t.getUnit == LogicalTypeAnnotation.TimeUnit.NANOS
              case _ => false
            }
          } finally reader.close()
        })
      }
    })
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    // read-before-write (r19 ADVICE): load is called from concurrent
    // Par threads, and mutating session conf mid-analysis on a sibling
    // thread is a latent hazard — after the first (single-threaded
    // warmup) load set it, every later call is a read-only check
    if (hasNanosTimestamp(spark, path) &&
        !spark.conf.getOption("spark.sql.legacy.parquet.nanosAsLong")
          .contains("true"))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(path)
  }

  /** The `events` table with `ts` canonicalized to TIMESTAMP_NTZ at
    * microsecond resolution, whatever physical type the parquet
    * carries. Dispatching on the LOADED dtype (not an assumption about
    * the writer) is what survives a testdata regeneration:
    *
    *  - TIMESTAMP(NANOS) → surfaced as epoch-nano BIGINT by [[load]];
    *    integer-truncate to µs (ns exceed double's 2^53 mantissa — a
    *    double round-trip would corrupt them), exactly the truncation
    *    DuckDB's µs TIMESTAMP applies to the same file.
    *  - timestamp[us] without tz → already TIMESTAMP_NTZ; pass through.
    *  - timestamp[us] with UTC adjustment → TIMESTAMP_LTZ; strip to
    *    the naive wall clock.
    *
    * NTZ is the canonical type because the DuckDB oracle reads the
    * same parquet as a naive TIMESTAMP — both engines then compare
    * identical wall-clock values with no timezone in play. The LTZ
    * branches assume session tz UTC (every entry point sets it). */
  def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    val df = load(spark, dir, "events")
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts",
          timestamp_micros(expr("ts div 1000")).cast(TimestampNTZType))
      case TimestampNTZType => df
      case TimestampType =>
        df.withColumn("ts", col("ts").cast(TimestampNTZType))
      case other => throw new IllegalArgumentException(
        s"events.ts: unsupported physical type $other — expected " +
          "BIGINT nanos, TIMESTAMP_NTZ, or TIMESTAMP")
    }
  }

  /** Register every table as a temp view so spark.sql(...) works — the
    * engine's analog of the reference's Execute SQL Task surface. */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
}
