package graft.sources

import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Batch and streaming table loader over the driver-generated parquet
  * testdata (TESTDATA.md): one parquet file, or one directory of part
  * files (the ScaleGen layout), per table under `sfDir`.
  *
  * Schema memo: `spark.read.parquet(path)` infers the schema from the
  * footers with a Spark job per call; [[schema]] infers once per JVM,
  * keyed on the absolute path, a `java.nio` stamp of what the read
  * sees (name, size, mtime, file key of the file or of every file
  * under the directory) and the session's `spark.sql.parquet.*`,
  * `spark.sql.legacy.parquet.*` and `spark.sql.caseSensitive` confs.
  * A rewrite or a conf change re-infers; a path that is no local file
  * (another scheme, a glob, missing) infers per call. Each read still
  * builds a fresh relation: self-joins keep distinct attribute ids.
  *
  * Scale notes (100 TB design): `spark.read.parquet` gives Catalyst a
  * `FileSourceScanExec` with predicate pushdown + column pruning; at
  * cluster scale the same call reads a partitioned directory tree and
  * prunes partitions. Callers should always `.select`/`.filter` early
  * so pruning reaches the scan — never cache whole tables.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // (path, confs) -> (stamp, schema): a rewrite replaces its entry
  private val memo =
    new ConcurrentHashMap[(String, Seq[(String, String)]), (Seq[Any], StructType)]

  /** `spark.read.parquet(path).schema`, memoized (see above). */
  def schema(spark: SparkSession, path: String): StructType = {
    def infer = spark.read.parquet(path).schema
    Try(local(path).map(p => p -> stamp(p))).toOption.flatten.fold(infer) { case (p, st) =>
      val key = (p.toString, spark.conf.getAll.toSeq.filter { case (k, _) =>
        k.startsWith("spark.sql.parquet.") || k.startsWith("spark.sql.legacy.parquet.") ||
          k == "spark.sql.caseSensitive"
      }.sorted)
      // stamped before inferring: a racing write leaves a stale stamp
      Option(memo.get(key)).filter(_._1 == st).fold {
        val inferred = infer; memo.put(key, (st, inferred)); inferred
      }(_._2)
    }
  }

  private def local(path: String): Option[Path] =
    Some(new org.apache.hadoop.fs.Path(path).toUri).filter(u => Option(u.getScheme).forall(_ == "file"))
      .map(u => Paths.get(u.getPath).toAbsolutePath.normalize)

  // every file counts, hidden ones too: a rewrite changes them together
  private def stamp(p: Path): Seq[Any] = {
    val a = Files.readAttributes(p, classOf[BasicFileAttributes])
    if (!a.isDirectory) Seq((p.toString, a.size, a.lastModifiedTime, a.fileKey))
    else scala.util.Using.resource(Files.list(p))(
      _.iterator.asScala.toList.sortBy(_.toString).flatMap(stamp))
  }

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val path = s"$sfDir/$name.parquet"
    spark.read.schema(schema(spark, path)).parquet(path)
  }

  /** File-stream read of one table with its memoized schema, through a
    * one-name glob (the source needs a directory basePath). */
  def stream(spark: SparkSession, d: String, name: String,
             maxFilesPerTrigger: Option[String] = None): DataFrame =
    spark.readStream.schema(schema(spark, s"$d/$name.parquet"))
      .options(maxFilesPerTrigger.map("maxFilesPerTrigger" -> _).toMap)
      .parquet(s"$d/{$name}.parquet")

  def region(s: SparkSession, d: String): DataFrame = apply(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = apply(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = apply(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = apply(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = apply(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = apply(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = apply(s, d, "lineitem")
  /** Normalize events.ts to a plain microsecond TIMESTAMP whatever
    * physical type the driver generated this round:
    *  - TIMESTAMP(NANOS), which Spark only reads as LongType
    *    (spark.sql.legacy.parquet.nanosAsLong=true, set in the session
    *    builders) → exact integer division to micros, the same
    *    truncation DuckDB applies reading nanos;
    *  - TIMESTAMP(MICROS) without UTC adjustment, which Spark infers
    *    as TIMESTAMP_NTZ → cast to TIMESTAMP. All session builders pin
    *    spark.sql.session.timeZone=UTC, so the cast reinterprets the
    *    naive value as the same UTC instant DuckDB's epoch functions
    *    assume for naive timestamps — `unix_micros`, watermarks and
    *    window() downstream keep working unchanged.
    * Shared by the batch loader and the streaming reader so the
    * normalization rule lives in exactly one place. */
  def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }

  def events(s: SparkSession, d: String): DataFrame =
    normalizeEventsTs(apply(s, d, "events"))
  def documents(s: SparkSession, d: String): DataFrame = apply(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = apply(s, d, "embeddings")
}
