package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.{DataType, StructType}

/** Filesystem probes that resolve through the Hadoop `FileSystem` API,
  * so they work on ANY filesystem Spark can write to (local paths,
  * `file:`, `hdfs:`, `s3a:`, ...). `java.io.File` must never be used
  * for data-directory discovery: on a non-local URI it silently reports
  * "missing" (isDirectory=false, listFiles=null), which for a persisted
  * dedup index means the seen-set reads as EMPTY and every historical
  * duplicate is readmitted without any error.
  */
object Fs {

  private def resolve(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sparkContext.hadoopConfiguration), p)
  }

  /** Footer schemas keyed by the part file's (path, mtime, length)
    * identity — part files are immutable once written, so a rewritten
    * file is a new key. No SparkSession in the key: a schema is a value
    * of the file alone, and the memo must not keep stopped sessions
    * alive.
    */
  private val schemaCache = new java.util.concurrent.ConcurrentHashMap[
    (String, Long, Long), StructType]()

  /** Schema of the parquet dataset under `dir`, from the footer of ONE
    * part file read on the driver — where `spark.read.parquet(dir)`
    * launches a schema-inference job per call. The part file is the
    * first found among the files directly in `dir`, then depth-first
    * through its partition subdirectories (`name=value`, in name
    * order); partition columns are not in the result (they live in
    * directory names, not files). None when `dir` holds no part file:
    * for an incremental dedup index, "nothing seen yet".
    */
  def parquetSchema(spark: SparkSession, dir: String): Option[StructType] = {
    val (fs, root) = resolve(spark, dir)
    def first(p: Path): Option[FileStatus] = {
      val st =
        try fs.listStatus(p)
        catch {
          case _: java.io.FileNotFoundException => Array.empty[FileStatus]
        }
      st.find(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
        .orElse(st.filter(s => s.isDirectory && s.getPath.getName.contains('='))
          .sortBy(_.getPath.getName).iterator
          .flatMap(d => first(d.getPath)).nextOption())
    }
    first(root).map { f =>
      if (schemaCache.size() > 1024) schemaCache.clear()
      schemaCache.computeIfAbsent(
        (f.getPath.toString, f.getModificationTime, f.getLen),
        _ => footerSchema(spark, f))
    }
  }

  /** The Spark schema a Spark writer records in the footer (what
    * Spark's own inference reads); a file some other writer produced
    * falls back to inference over that one file.
    */
  private def footerSchema(spark: SparkSession, f: FileStatus): StructType = {
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile
        .fromStatus(f, spark.sparkContext.hadoopConfiguration))
    val recorded =
      try Option(rd.getFooter.getFileMetaData.getKeyValueMetaData
        .get("org.apache.spark.sql.parquet.row.metadata"))
      finally rd.close()
    recorded.map(DataType.fromJson(_).asInstanceOf[StructType])
      .getOrElse(spark.read.parquet(f.getPath.toString).schema)
  }

  /** Fully-qualified immediate subdirectories of `dir` whose NAME
    * matches `pattern` (a full-name regex — e.g. `"b\\d+"` for the
    * streaming index's per-batch layout, so an unrelated `backup/`
    * cannot be read as fingerprints). Empty when `dir` doesn't exist.
    */
  def subdirs(spark: SparkSession, dir: String, pattern: String): Seq[String] = {
    val (fs, p) = resolve(spark, dir)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toIndexedSeq
      .filter(s => s.isDirectory && s.getPath.getName.matches(pattern))
      .map(_.getPath.toString)
  }
}
