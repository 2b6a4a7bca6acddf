package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loaders for the driver test data (TESTDATA.md).
  *
  * At cluster scale the same entry points would read partitioned
  * directories; nothing here assumes single-file inputs — Spark's
  * parquet source splits and prunes regardless.
  *
  * Every load goes through [[parquet]], which memoizes the inferred
  * schema. A plain `spark.read.parquet` with no schema launches a
  * footer-inference Spark job on every call; the memo pays it once per
  * file and answers later reads with `spark.read.schema(s).parquet`,
  * which launches none.
  *
  *  - **What it holds:** the `StructType` only, never rows or plans.
  *    Every read still lists, plans and scans the files it returns.
  *  - **Key:** the qualified path plus the session's values of every
  *    conf that shapes the footer → schema conversion
  *    (`spark.sql.parquet.*`, `spark.sql.legacy.parquet.*`, partition
  *    column type inference). [[events]] sets `nanosAsLong` before it
  *    reads, which reads a TIMESTAMP(NANOS) `ts` as BIGINT.
  *  - **Fingerprint:** each entry keeps the name, length and
  *    modification time of every data file under the path, from one
  *    Hadoop-FS listing (no Spark job). A file rewritten at the same
  *    path, with a different schema or not, changes the fingerprint and
  *    is inferred again, so a reader never sees a stale schema.
  *  - **Not stored:** a failed inference, and a path with no data files
  *    (missing or empty). Those reads fall through to the plain
  *    `spark.read.parquet`, which raises the same error as ever.
  */
object Tables {
  private final case class Key(path: String, confs: Seq[(String, String)])
  private final case class Entry(fingerprint: Seq[(String, Long, Long)], schema: StructType)

  private val memo = new ConcurrentHashMap[Key, Entry]()
  private val inferredN = new AtomicLong
  private val reusedN = new AtomicLong

  private val schemaConfPrefixes = Seq("spark.sql.parquet.", "spark.sql.legacy.parquet.",
    "spark.sql.sources.partitionColumnTypeInference.")

  /** Schema inferences and memo hits since the JVM started, for
    * `bench_detail.json`.
    */
  def schemaCounts: (Long, Long) = (inferredN.get, reusedN.get)

  /** The parquet data files at `path`: the path itself when it is a
    * file, else the `.parquet` files directly under it, or anywhere
    * beneath it when `recursive`. Empty when the path does not exist.
    * Hadoop-FS IO, so sidecar and delta roots can live on any
    * filesystem Spark reads; it launches no Spark job. Plain
    * `listStatus`, not `listFiles`: the latter builds a
    * `LocatedFileStatus` per file, which on the local filesystem forks
    * a shell to read each file's permissions.
    */
  private[graft] def parquetFiles(s: SparkSession, path: String,
                                  recursive: Boolean): Iterator[FileStatus] = {
    val p = new Path(path)
    val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    def walk(dir: Path): Iterator[FileStatus] = fs.listStatus(dir).iterator.flatMap { st =>
      if (!st.isDirectory) Iterator.single(st)
      else if (recursive) walk(st.getPath)
      else Iterator.empty
    }
    if (!fs.exists(p)) Iterator.empty
    else walk(p).filter(_.getPath.getName.endsWith(".parquet"))
  }

  /** Whether `path` holds at least one parquet data file. A directory
    * a writer has not reached yet, or a table a takedown emptied, has
    * none, and a schema-less `spark.read.parquet` of it dies with
    * UNABLE_TO_INFER_SCHEMA: callers branch on this first.
    */
  private[graft] def hasParquet(s: SparkSession, path: String, recursive: Boolean): Boolean =
    parquetFiles(s, path, recursive).hasNext

  /** `spark.read.parquet(path)`, inferring the schema at most once per
    * unchanged file set (see the object doc).
    */
  def parquet(s: SparkSession, path: String): DataFrame = {
    val files = parquetFiles(s, path, recursive = true).toVector
    if (files.isEmpty) s.read.parquet(path)
    else {
      val fingerprint = files
        .map(f => (f.getPath.toString, f.getLen, f.getModificationTime))
        .sorted
      val confs = s.conf.getAll.toSeq
        .filter { case (k, _) => schemaConfPrefixes.exists(k.startsWith) }
        .sorted
      val p = new Path(path)
      val key = Key(
        p.getFileSystem(s.sparkContext.hadoopConfiguration).makeQualified(p).toString, confs)
      Option(memo.get(key)).filter(_.fingerprint == fingerprint) match {
        case Some(e) =>
          reusedN.incrementAndGet()
          s.read.schema(e.schema).parquet(path)
        case None =>
          val df = s.read.parquet(path)
          memo.put(key, Entry(fingerprint, df.schema))
          inferredN.incrementAndGet()
          df
      }
    }
  }

  def t(spark: SparkSession, dir: String, name: String): DataFrame =
    parquet(spark, s"$dir/$name.parquet")

  def lineitem(s: SparkSession, d: String): DataFrame   = t(s, d, "lineitem")
  def orders(s: SparkSession, d: String): DataFrame     = t(s, d, "orders")
  def customer(s: SparkSession, d: String): DataFrame   = t(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame   = t(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame       = t(s, d, "part")
  def nation(s: SparkSession, d: String): DataFrame     = t(s, d, "nation")
  def region(s: SparkSession, d: String): DataFrame     = t(s, d, "region")
  /** The generator's `ts` is parquet TIMESTAMP(MICROS) and reads as
    * is. An events table whose `ts` is TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects, is read as the physical INT64 via the
    * legacy conf and rebuilt as a (µs) timestamp with integer division
    * — event data is µs-granular, so the narrowing is lossless. `div`
    * (not `/`) matters: ns-epoch values exceed the double-exact range.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = t(s, d, "events")
    if (raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
      raw.withColumn("ts", org.apache.spark.sql.functions.expr("timestamp_micros(ts div 1000)"))
    else raw
  }
  def documents(s: SparkSession, d: String): DataFrame  = t(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = t(s, d, "embeddings")
}
