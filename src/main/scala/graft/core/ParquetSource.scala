package graft.core

import java.util.concurrent.ConcurrentHashMap

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one way graft reads parquet. A plain `spark.read.parquet` launches
  * a footer-reading Spark job to infer the schema, on every call, so each
  * chain build paid one job per table it bound. This read infers a path's
  * schema once per session and hands the remembered schema to
  * `spark.read.schema(...)` afterwards, which skips the job.
  *
  * An entry is keyed by (session, qualified path) and carries a stamp:
  *   - every data file under the path as (path, length, modification
  *     time), listed with the names Spark's own listing skips skipped;
  *   - the session's current values of the settings that change parquet
  *     inference (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`,
  *     case sensitivity, and the partition-directory typing settings).
  * A read whose stamp differs (files rewritten, appended, a new partition
  * directory, a flipped setting) infers again and replaces the entry.
  *
  * Only the schema is kept, never a DataFrame: every read builds a fresh
  * relation with fresh attribute ids, so self-joins of two reads analyse
  * exactly as they did with plain reads. Sessions are held weakly, so a
  * session's entries go when it does.
  */
object ParquetSource {

  private final case class Stamp(files: Seq[(String, Long, Long)], conf: Map[String, String])
  private final case class Entry(stamp: Stamp, schema: StructType)

  private val memo = new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, Entry]]()

  private val inferencePrefixes = Seq("spark.sql.parquet.", "spark.sql.legacy.parquet.")
  private val inferenceKeys = Set(
    "spark.sql.caseSensitive",
    "spark.sql.sources.partitionColumnTypeInference.enabled",
    "spark.sql.timestampType")

  /** `spark.read.parquet(path)`, with the schema inferred at most once per
    * session while the path's files and the inference settings stay put.
    */
  def read(spark: SparkSession, path: String): DataFrame = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val key = fs.makeQualified(p).toString
    // stamp before reading: a change racing the read leaves an older stamp
    // behind, so the next read infers again rather than trusting it
    val stamp = Stamp(dataFiles(fs, p), inferenceConf(spark))
    val entries = memo.synchronized(
      memo.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, Entry]()))
    Option(entries.get(key)) match {
      case Some(e) if e.stamp == stamp => spark.read.schema(e.schema).parquet(path)
      case _ =>
        val df = spark.read.parquet(path)
        entries.put(key, Entry(stamp, df.schema))
        df
    }
  }

  /** Leaf files under `p` (a file, a directory tree, or a glob), sorted. A
    * missing path lists empty; the plain read then raises Spark's error.
    */
  private def dataFiles(fs: FileSystem, p: Path): Seq[(String, Long, Long)] = {
    def leaves(st: FileStatus): Seq[FileStatus] =
      if (st.isDirectory)
        fs.listStatus(st.getPath).toSeq
          .filterNot(c => org.apache.spark.sql.GraftBridge.hiddenFromListing(c.getPath.getName))
          .flatMap(leaves)
      else Seq(st)
    Option(fs.globStatus(p)).toSeq.flatten.flatMap(leaves)
      .map(st => (st.getPath.toString, st.getLen, st.getModificationTime))
      .sortBy(_._1)
  }

  private def inferenceConf(spark: SparkSession): Map[String, String] =
    spark.conf.getAll.filter { case (k, _) =>
      inferenceKeys(k) || inferencePrefixes.exists(k.startsWith)
    }
}
