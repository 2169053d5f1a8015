package graft.io

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.graftshim.FileIndexBridge
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType, TimestampType}

/** Catalog-listing source (SURVEY.md §2.1 S3/S4): the object-store /
  * remote-directory listings the sync engine diffs. The sync's quick
  * check lists both sides on the driver ([[listVisible]]) and hashes
  * only the files whose (length, mtime) its manifest cannot vouch for
  * ([[hashFiles]]); see [[graft.sync.SyncJob]] for the check and its
  * limit.
  */
object Catalog {

  /** Recursive driver-side listing as raw tuples
    * `(name, path, length, modTimeMs)` of every file the file system
    * lists, `_SUCCESS` included: the snapshot-tag and size probes of
    * [[Tables]] and [[Sinks]]. A file catalog is [[listVisible]].
    */
  private[io] def listRaw(dir: String, conf: Configuration)
  : Seq[(String, String, Long, Long)] =
    walk(dir, conf, _ => false).map(f =>
      (new Path(f.path).getName, f.path, f.length, f.modTime))

  /** One file of [[listVisible]]: `name` is its path relative to the
    * listed directory, `path` the qualified path.
    */
  final case class Entry(name: String, path: String, length: Long, modTime: Long)

  /** A directory's file catalog without content: the reference's
    * `get_s3_files()` LIST (`Task_1_sync_bls_files.py:77-85`), as one
    * recursive driver-side listing. It lists exactly the files a
    * `binaryFile` scan of `dir` reads: a name Spark's file index hides
    * (`_`/`.` prefixes such as `_SUCCESS`, `.crc` files and dot-named
    * temp files) is skipped at every depth, a hidden directory with all
    * it holds. A missing directory (a destination before its first
    * sync) is an empty catalog.
    */
  def listVisible(dir: String, conf: Configuration): Seq[Entry] =
    walk(dir, conf, FileIndexBridge.hiddenName)

  /** Every file under `dir` whose path relative to it has no component
    * `skip` names, with one `listStatus` per directory it enters.
    * `FileSystem.listFiles` would build a `LocatedFileStatus` per file,
    * which on the local file system without Hadoop's native library
    * loads owner and permissions by running a `stat` process per file.
    */
  private def walk(dir: String, conf: Configuration,
                   skip: String => Boolean): Seq[Entry] = {
    val root = new Path(dir)
    val fs = root.getFileSystem(conf)
    val top = fs.makeQualified(root)
    val prefix = top.toString + "/"
    def under(p: Path): Seq[Entry] = fs.listStatus(p).toSeq.flatMap { st =>
      val path = st.getPath
      if (skip(path.getName)) Nil
      else if (st.isDirectory) under(path)
      else Seq(Entry(path.toString.stripPrefix(prefix), path.toString,
        st.getLen, st.getModificationTime))
    }
    if (fs.exists(top)) under(top) else Nil
  }

  private val schema = StructType(Seq(
    StructField("name", StringType), StructField("path", StringType),
    StructField("length", LongType), StructField("mod_time", TimestampType),
    StructField("hash", StringType)))

  /** A directory's hashed file catalog `(name, path, length, mod_time,
    * hash)` as one recursive `binaryFile` read, `hash = md5(content)`
    * (the reference's 8KB-chunk md5, `Task_1_sync_bls_files.py:99-105`),
    * hashed in the scan tasks. It reads the files [[listVisible]] lists.
    * Column pruning keeps `content` out of a scan that selects no
    * `hash`, and `length`/`mod_time` filters are applied to the file
    * status before any content is read. `name` is the basename. The
    * sync hashes only the files its quick check cannot vouch for, with
    * [[hashFiles]]; this full read is the reference it is tested
    * against.
    */
  def listFiles(spark: SparkSession, dir: String): DataFrame = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p) || fs.listStatus(p).isEmpty) empty(spark)
    else scan(spark, Seq(dir))
  }

  /** The hashed catalog rows of exactly `paths` (qualified file paths,
    * as [[listVisible]] gives them), in one `binaryFile` scan: one Spark
    * job for up to `spark.sql.sources.parallelPartitionDiscovery.threshold`
    * paths (Spark lists more than that in a job of its own). Each row's
    * `length`/`mod_time` is the status the scan read the content under.
    * No paths, no scan.
    */
  def hashFiles(spark: SparkSession, paths: Seq[String]): DataFrame =
    if (paths.isEmpty) empty(spark)
    // a path is a glob pattern to the reader: escape its metacharacters
    // so a file named `a[1].txt` is read as itself
    else scan(spark, paths.map(_.replaceAll("""([\\{}\[\]*?])""", """\\$1""")))

  private def empty(spark: SparkSession): DataFrame =
    spark.createDataFrame(new java.util.ArrayList[Row](), schema)

  // `recursiveFileLookup` also turns off partition-directory inference,
  // the right semantics for a FILE catalog
  private def scan(spark: SparkSession, paths: Seq[String]): DataFrame =
    spark.read.format("binaryFile")
      .option("recursiveFileLookup", "true")
      .load(paths: _*)
      .select(
        element_at(split(col("path"), "/"), -1).as("name"),
        col("path"), col("length"), col("modificationTime").as("mod_time"),
        md5(col("content")).as("hash"))

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
