package graft.sources

import java.nio.file.{Files, NoSuchFileException, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet schema inference once per immutable input: the first read of
  * a path set infers its schema as `spark.read.parquet` always does (a
  * Spark job reading footers), later reads of the same inputs pass the
  * recorded schema to `spark.read.schema(...)` and start no job. File
  * listing, the scan and the plan are those of the plain read, and every
  * call returns a fresh relation (shared expression IDs would change
  * self-join analysis).
  *
  * Callers promise the inputs are immutable under their identity: CAS
  * wave directories are write-once UUID paths, and a base table changes
  * only by a rewrite, which gives it a new identity. The key holds
  *  - the exact path list and, per path, one `stat`: size, mtime and
  *    file key (inode), so a rewritten path is inferred again;
  *  - the `mergeSchema` flag;
  *  - the session's parquet-inference confs (`spark.sql.parquet.*`,
  *    `spark.sql.legacy.parquet.*`, `spark.sql.caseSensitive`), so a
  *    session or clone that infers differently never reuses a schema.
  *
  * Not the session itself: a finished session is never kept alive. The
  * memo is a JVM-wide LRU of [[Cap]] entries, so a refresh loop that
  * reads ~25 new wave path sets per refresh keeps a flat live heap.
  */
object SchemaMemo {
  /** Entries kept: above the distinct inputs of a warm star-read round
    * and of two daily refreshes, far below a megabyte of keys.
    */
  private[graft] val Cap = 128

  private val confPrefixes =
    Seq("spark.sql.parquet.", "spark.sql.legacy.parquet.")

  // a missing path stats as absent: the read then fails as it always did
  private final case class Stamp(size: Long, mtime: FileTime, inode: AnyRef)
  private val absent = Stamp(-1L, null, null)

  private final case class Key(paths: Seq[String], stamps: Seq[Stamp],
      mergeSchema: Boolean, confs: Seq[(String, String)])

  private val memo = new java.util.LinkedHashMap[Key, StructType](
      16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[Key, StructType]): Boolean = this.size > Cap
  }

  private def stamp(path: String): Stamp =
    try {
      val a = Files.readAttributes(Paths.get(path),
        classOf[BasicFileAttributes])
      Stamp(a.size, a.lastModifiedTime, a.fileKey)
    } catch { case _: NoSuchFileException => absent }

  private def inferenceConfs(spark: SparkSession): Seq[(String, String)] =
    spark.conf.getAll.iterator.filter { case (k, _) =>
      k == "spark.sql.caseSensitive" || confPrefixes.exists(k.startsWith)
    }.toSeq.sorted

  /** `spark.read.parquet(paths: _*)`, with `mergeSchema` when asked,
    * inferring the schema only on the first read of these inputs.
    */
  def parquet(spark: SparkSession, paths: Seq[String],
      mergeSchema: Boolean = false): DataFrame = {
    val key = Key(paths, paths.map(stamp), mergeSchema,
      inferenceConfs(spark))
    val reader =
      if (mergeSchema) spark.read.option("mergeSchema", "true")
      else spark.read
    memo.synchronized(Option(memo.get(key))) match {
      case Some(schema) => reader.schema(schema).parquet(paths: _*)
      case None =>
        val df = reader.parquet(paths: _*)
        memo.synchronized(memo.put(key, df.schema))
        df
    }
  }

  /** Entries held now; never above [[Cap]]. */
  private[graft] def size: Int = memo.synchronized(memo.size)
}
