package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.types.StructType

/** Table-format boundary for every persistent artifact the engine writes
  * (staged docs, packed postings groups, df tables).
  *
  * SURVEY §1.2 specifies Iceberg tables for pages/postings; this container
  * has no Iceberg jars (verified: /opt/spark/jars, offline resolver), so the
  * shipped implementation is parquet directories with _SUCCESS markers and
  * JSON sidecar manifests. Everything format-specific is behind this trait:
  * on a real cluster an `IcebergIO` maps `write` to a table commit
  * (snapshot), `committed` to table existence, and the engine's group
  * manifests become snapshot metadata — no call-site changes.
  * [[HadoopTableIO]] is the cluster-portable parquet implementation (any
  * Hadoop FileSystem URI — HDFS, S3A, ABFS) shipped today.
  */
trait TableIO extends Serializable {

  /** Write a table, replacing any previous content at the location. */
  def write(df: DataFrame, location: String, partitionBy: Seq[String] = Nil): Unit

  def read(spark: SparkSession, location: String): DataFrame

  /** Read several locations of ONE table (e.g. an index's committed postings
    * groups) as a single relation with the caller's schema: one file
    * listing, no schema inference job and no per-location union, so the
    * cost of building the relation does not grow with the location count.
    * Concrete here because both shipped implementations are parquet; a
    * table format with its own snapshot reader (Iceberg) overrides it.
    */
  def readAll(spark: SparkSession, locations: Seq[String],
              schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(locations: _*)

  /** True iff a COMPLETE write exists at the location (atomicity marker). */
  def committed(location: String): Boolean

  /** Remove the table at the location if present (no-op when absent) — the
    * same storage view as `write`/`read`, so stale-output cleanup composes
    * with any implementation (a meta-side probe would miss tables written
    * through a different boundary).
    */
  def deleteIfExists(location: String): Unit
}

/** Parquet-directory implementation: the directory is the table, the
  * _SUCCESS file its commit marker.
  */
object ParquetDirIO extends TableIO {

  override def write(df: DataFrame, location: String,
                     partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(location)
  }

  override def read(spark: SparkSession, location: String): DataFrame =
    spark.read.parquet(location)

  override def committed(location: String): Boolean =
    java.nio.file.Files.exists(java.nio.file.Paths.get(location, "_SUCCESS"))

  override def deleteIfExists(location: String): Unit =
    if (new java.io.File(location).exists())
      LocalMetaIO.deleteRecursively(location) // one local recursive delete impl
}

/** Parquet tables addressed through the Hadoop FileSystem API (already on
  * the Spark classpath) — the cluster-portable implementation: locations
  * are any FileSystem URI (`hdfs://`, `s3a://`, `file://`, or scheme-less
  * paths resolving through the session's Hadoop conf). Spark's parquet
  * reader/writer already speak these URIs; this class routes the COMMIT
  * PROBE and CLEANUP through the same FileSystem so no driver-local
  * `java.io.File` assumption survives (the gap ParquetDirIO has on shared
  * storage).
  */
class HadoopTableIO extends TableIO {
  import org.apache.hadoop.fs.Path

  // Hadoop Configuration is not serializable; resolve lazily per call from
  // the default conf (FileSystem.get caches instances internally)
  private def fs(p: Path) =
    p.getFileSystem(new org.apache.hadoop.conf.Configuration())

  override def write(df: DataFrame, location: String,
                     partitionBy: Seq[String] = Nil): Unit = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w)
      .parquet(location)
  }

  override def read(spark: SparkSession, location: String): DataFrame =
    spark.read.parquet(location)

  override def committed(location: String): Boolean = {
    val p = new Path(location, "_SUCCESS")
    fs(p).exists(p)
  }

  override def deleteIfExists(location: String): Unit = {
    val p = new Path(location)
    val f = fs(p)
    if (f.exists(p)) f.delete(p, true)
  }
}

object HadoopTableIO extends HadoopTableIO
