package graft.core

import java.io.IOException
import java.nio.charset.StandardCharsets
import java.security.MessageDigest

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.graft.FileIndex
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The one way the engine reads a parquet input.
  *
  * `spark.read.parquet(path)` infers the schema eagerly, and in Spark 4 that
  * inference is a Spark job that reads a footer, even with `mergeSchema` off.
  * The reference opens an immutable db by reading its small `fields` member,
  * never its data (`tdb_open`, src/tdb.c:298-393); this reader gets the same
  * cost on repeat reads. The first read of a path infers the schema as
  * Spark always does. A later read passes the remembered schema to
  * `spark.read.schema(...).parquet(path)`, which starts no job.
  *
  * Reuse contract: the remembered schema is reused only while
  *  - the qualified path is the same;
  *  - the recursive listing of the files Spark reads under it is the same
  *    (each file's path, length and modification time, kept as a digest);
  *  - the confs that shape parquet schema inference have the same values
  *    ([[SchemaConfs]]).
  * A change to any of them makes the next read infer again. An in-place
  * rewrite that keeps a file's path, length and modification time is not
  * detected. A missing path, a glob, or a listing that fails with an
  * `IOException` is read by plain `spark.read.parquet`, so its error keeps
  * Spark's class and message (`PATH_NOT_FOUND`).
  *
  * One entry per qualified path, at most [[MaxEntries]], least recently
  * used first out. The cache is per JVM and shared by every session. */
object ParquetInputs {
  /** The confs whose values change what parquet schema inference returns. */
  private val SchemaConfs: Seq[String] = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.parquet.respectSummaryFiles",
    "spark.sql.caseSensitive")

  private val MaxEntries = 256

  private final case class Entry(listing: String, confs: Seq[String],
      schema: StructType)

  private val cache = new java.util.LinkedHashMap[String, Entry](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[String, Entry]): Boolean = size > MaxEntries
  }

  def read(spark: SparkSession, path: String): DataFrame =
    listing(spark, path) match {
      case None => spark.read.parquet(path)
      case Some((key, digest)) =>
        val confs = SchemaConfs.map(k => spark.conf.getOption(k).orNull)
        val hit = cache.synchronized(Option(cache.get(key)))
          .filter(e => e.listing == digest && e.confs == confs)
        hit match {
          case Some(e) => spark.read.schema(e.schema).parquet(path)
          case None =>
            val df = spark.read.parquet(path)
            cache.synchronized(cache.put(key, Entry(digest, confs, df.schema)))
            df
        }
    }

  /** (qualified path, digest of its file listing), or None when the path
    * is a glob, is missing or cannot be listed. */
  private def listing(spark: SparkSession,
      path: String): Option[(String, String)] =
    if (path.exists("{}[]*?\\".contains(_))) None
    else try {
      val p = new Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val root = fs.getFileStatus(p)
      val md = MessageDigest.getInstance("SHA-256")
      files(fs, root).foreach { f =>
        md.update(s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}\n"
          .getBytes(StandardCharsets.UTF_8))
      }
      Some((fs.makeQualified(p).toString,
        java.util.HexFormat.of().formatHex(md.digest())))
    } catch { case _: IOException => None }

  /** The files under `st` that Spark's file index reads, in name order;
    * sidecars such as `_SUCCESS` and `_graft_info.json` are not among them. */
  private def files(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
    if (!st.isDirectory) Seq(st)
    else fs.listStatus(st.getPath).toSeq
      .filterNot(c => FileIndex.hidden(c.getPath.getName))
      .sortBy(_.getPath.getName)
      .flatMap(files(fs, _))
}
