package graft.io

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

/** Catalog-listing source (SURVEY.md §2.1 S3/S4): the object-store /
  * remote-directory listings the sync engine diffs.
  */
object Catalog {

  /** Recursive driver-side listing as raw tuples
    * `(name, path, length, modTimeMs)` of every file the file system
    * lists, `_SUCCESS` included: the snapshot-tag and size probes of
    * [[Tables]] and [[Sinks]]. A file catalog is [[listFiles]].
    */
  private[io] def listRaw(dir: String,
              conf: org.apache.hadoop.conf.Configuration)
  : Seq[(String, String, Long, Long)] = {
    val path = new Path(dir)
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) Seq.empty
    else {
      val it = fs.listFiles(path, true)
      val buf = scala.collection.mutable.ArrayBuffer[(String, String, Long, Long)]()
      while (it.hasNext) {
        val f = it.next()
        buf += ((f.getPath.getName, f.getPath.toString, f.getLen,
          f.getModificationTime))
      }
      buf.toSeq
    }
  }

  private val schema = StructType(Seq(
    StructField("name", StringType), StructField("path", StringType),
    StructField("length", LongType), StructField("mod_time", TimestampType),
    StructField("hash", StringType)))

  /** A directory's file catalog `(name, path, length, mod_time, hash)`:
    * the reference's `get_s3_files()` LIST → `{key: etag}`
    * (`Task_1_sync_bls_files.py:77-85`) and its 8KB-chunk md5
    * (`:99-105`) as one recursive `binaryFile` read, `hash =
    * md5(content)`, hashed in the scan tasks. `binaryFile` skips `_`/`.`
    * names (`_SUCCESS`, `.crc`), so listing and hashing see the same
    * files. Column pruning keeps `content` out of a scan that selects no
    * `hash`, and `length`/`mod_time` filters are applied to the file
    * status before any content is read. `recursiveFileLookup` also turns
    * off partition-directory inference, the right semantics for a FILE
    * catalog; `name` is the basename, so a key that must not collide
    * across subdirectories derives from `path` (see SyncJob's
    * relative-path key). A missing or empty directory (a destination
    * before its first sync) is an empty catalog.
    */
  def listFiles(spark: SparkSession, dir: String): DataFrame = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || fs.listStatus(p).isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    else spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(dir)
      .select(
        element_at(split(col("path"), "/"), -1).as("name"),
        col("path"), col("length"), col("modificationTime").as("mod_time"),
        md5(col("content")).as("hash"))
  }

  /** Extract href targets from an HTML directory index (SURVEY.md S4,
    * the reference's bs4 scrape `Task_1_sync_bls_files.py:42-48`):
    * `<a href="...">` values, minus directories and parent links.
    */
  def hrefsFromHtml(html: DataFrame, htmlCol: String = "html"): DataFrame =
    html
      .select(explode(
        regexp_extract_all(col(htmlCol), lit("href=\"([^\"]+)\""), lit(1)))
        .as("href"))
      .filter(!col("href").endsWith("/") && col("href") =!= ".." &&
        !col("href").startsWith("?") && !col("href").startsWith("#"))

  /** The reference's latest-partition pick (`sorted(files)[-1]`,
    * `report_processor.py:66-67`): lexicographic max among keys
    * matching prefix/suffix.
    */
  def latestKey(listing: DataFrame, prefix: String, suffix: String): DataFrame =
    listing
      .filter(col("name").startsWith(prefix) && col("name").endsWith(suffix))
      .orderBy(col("name").desc)
      .limit(1)
}
