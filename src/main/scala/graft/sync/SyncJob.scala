package graft.sync

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.{Catalog, Sinks}

/** End-to-end catalog sync: mirror `srcDir` into `dstDir` — the whole of
  * the reference's `sync_files()` (`lambda_functions/sync_and_fetch.py:
  * 60-120` and `Task_1_sync_bls_files.py:150-198`) as one job:
  *
  *  1. hash both catalogs (distributed binary read + md5 per file),
  *  2. one full-outer CDC plan ([[CdcMerge.plan]]) classifying every
  *     key insert / update / skip / delete,
  *  3. apply: copy insert+update, delete orphans.
  *
  * The apply loop is driver-side over the (small) action sets, exactly
  * like the reference's per-key HTTP loop — the SCALE-CRITICAL part,
  * hashing both catalogs, is distributed (one task per file). A 100
  * M-object sync would swap step 3 for a distributed binaryFile
  * read→write keyed by the fetch set; the plan side needs no change.
  */
object SyncJob {

  /** [[Catalog.listFiles]] keyed on the path relative to `dir`; a
    * missing or empty dir (the destination on first sync) is an empty
    * catalog.
    */
  def catalogOrEmpty(spark: SparkSession, dir: String): DataFrame = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a sync source/destination mutates between passes — drop any
    // cached file listing for this path or pass 2 reads ghosts of
    // files pass 1 deleted
    spark.catalog.refreshByPath(dir)
    // key on the path RELATIVE to dir, not the basename: the binary
    // listing recurses into subdirectories, where a basename key
    // both reconstructs the wrong copy path ($dir/<basename>) and
    // collides for same-named files in different subdirs — the
    // relative path round-trips to the true location on either side
    val qualified = fs.makeQualified(p).toString
    Catalog.listFiles(spark, dir)
      .withColumn("name", expr(s"substring(path, ${qualified.length + 2})"))
  }

  /** Plan + apply one sync; returns the merged plan
    * `(name, action, remote_hash, stored_hash)` for reporting (the
    * reference prints per-file outcomes; callers aggregate by action).
    *
    * The plan is materialized ONCE before any action runs: the apply
    * step mutates the very directory the plan's scan lists, so handing
    * back the lazy plan would re-read deleted files on the caller's
    * next action. The materialized plan is catalog-sized (keys, not
    * content) — the same driver-side footprint as the reference's
    * per-file decision dict.
    */
  def run(spark: SparkSession, srcDir: String, dstDir: String): DataFrame = {
    val merged = CdcMerge.plan(
      catalogOrEmpty(spark, srcDir), catalogOrEmpty(spark, dstDir))
    val rows = merged.collect()
    def keys(actions: Set[String]) =
      rows.filter(r => actions(r.getString(1))).map(_.getString(0))
    val fetch = keys(CdcMerge.fetchActions)
    val del = keys(CdcMerge.deleteActions)
    val conf = spark.sparkContext.hadoopConfiguration
    // resolve each side's OWN FileSystem — src and dst may live on
    // different schemes (s3a → file, hdfs → s3a, ...)
    val srcFs = new Path(srcDir).getFileSystem(conf)
    val dstFs = new Path(dstDir).getFileSystem(conf)
    dstFs.mkdirs(new Path(dstDir))
    fetch.foreach { name =>
      org.apache.hadoop.fs.FileUtil.copy(
        srcFs, new Path(s"$srcDir/$name"), dstFs, new Path(s"$dstDir/$name"),
        false, true, conf)
    }
    Sinks.deletePaths(spark, del.toSeq.map(n => s"$dstDir/$n"))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq), merged.schema)
  }

  /** The reference's FULL loop (`Task_1_sync_bls_files.py:36-74,
    * 150-198`) against a LIVE HTTP endpoint: fetch the directory
    * index page (403-retry + exponential backoff + courtesy root
    * visit — [[graft.io.Http.fetchString]]), scrape file hrefs
    * ([[Catalog.hrefsFromHtml]] — directories, parent links, and
    * query/fragment links filtered), resolve each href to a fetch URL
    * and a validated staged key ([[resolveHref]] — absolute paths via
    * the reference's urljoin semantics, traversal/encoded names
    * rejected), download each listed file to a staging dir, then run
    * the standard catalog diff→apply ([[run]])
    * against `dstDir`. Returns the merged CDC plan; an index fetch
    * that exhausts retries yields an EMPTY file list — and because a
    * vanished listing must mean "do nothing", not "delete the
    * mirror", the sync degrades to a no-op pass in that case
    * (`Option.empty` plan), exactly the reference's `return []` + "no
    * files" early-exit behavior.
    *
    * Driver-side per-file loop like the reference; the staged dir then
    * flows through the DISTRIBUTED hash/diff. `sleep` is injectable
    * for specs (assert the backoff schedule, no wall-clock waits).
    */
  def runHttp(spark: SparkSession, indexUrl: String, dstDir: String,
              stagingDir: String,
              courtesyUrl: Option[String] = None,
              maxRetries: Int = 3,
              retryDelayMs: Long = 5000L,
              sleep: Long => Unit = Thread.sleep): Option[DataFrame] = {
    import graft.io.Http
    val base = if (indexUrl.endsWith("/")) indexUrl else indexUrl + "/"
    Http.fetchString(indexUrl, maxRetries, retryDelayMs, courtesyUrl,
        sleep = sleep)
      .flatMap { html =>
        import spark.implicits._
        val all = Catalog.hrefsFromHtml(Seq(html).toDF("html"))
          .collect().map(_.getString(0))
        // resolve each href to (fetch URL, staged key) or a loud skip:
        // absolute paths resolve against the index host (the
        // reference's urljoin, `Task_1_sync_bls_files.py:155`) keyed
        // on the basename; anything whose decoded key is not a safe
        // single-segment file name is REJECTED — scraped HTML is
        // remote-controlled input, and a '../x' or 'a/../../x' href
        // must never reach `new Path(staging, name)`
        val resolved = all.map(h => h -> resolveHref(base, h))
        resolved.collect { case (h, Left(why)) =>
          System.err.println(
            s"[graft.SyncJob] WARNING: skipping href '$h' ($why)")
        }
        val hrefs = resolved.collect { case (_, Right(r)) => r }
        // a 200 page that parses to ZERO file links is
        // indistinguishable from a maintenance/error page — treat it
        // exactly like a failed index fetch (the reference's "no
        // files" early-exit): a vanished listing must mean "do
        // nothing", never "delete the mirror"
        if (hrefs.isEmpty) {
          System.err.println("[graft.SyncJob] WARNING: index page " +
            s"yielded no file links ($indexUrl) - skipping this pass")
          None
        } else Some {
        val staging = new Path(stagingDir)
        val fs = staging.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(staging)) fs.delete(staging, true)
        fs.mkdirs(staging)
        hrefs.foreach { case (fetchUrl, name) =>
          Http.fetchBytes(fetchUrl, maxRetries, retryDelayMs,
              courtesyUrl, sleep = sleep) match {
            case Some(bytes) =>
              val out = fs.create(new Path(staging, name), true)
              try out.write(bytes) finally out.close()
            case None =>
              // deletes must key on the LISTING, not on download
              // success (reference parity: a failed download leaves
              // the stored copy; only names absent from the index are
              // deleted). The file IS listed but unfetchable — carry
              // the mirror's existing copy into staging so the diff
              // sees "skip", never "delete"; if the mirror has no
              // copy either, the insert simply doesn't happen this
              // pass (the reference's failed-upload behavior).
              val stored = new Path(s"$dstDir/$name")
              val dstFs = stored.getFileSystem(
                spark.sparkContext.hadoopConfiguration)
              if (dstFs.exists(stored)) {
                org.apache.hadoop.fs.FileUtil.copy(dstFs, stored, fs,
                  new Path(staging, name), false, true,
                  spark.sparkContext.hadoopConfiguration)
                System.err.println(s"[graft.SyncJob] WARNING: download " +
                  s"of listed file '$name' failed - keeping the stored " +
                  "copy (no delete)")
              } else System.err.println(s"[graft.SyncJob] WARNING: " +
                s"download of listed file '$name' failed and no stored " +
                "copy exists - skipping this pass")
          }
        }
        run(spark, stagingDir, dstDir)
        }
      }
  }

  /** Resolve one scraped href to `Right((fetchUrl, stagedName))` or
    * `Left(reason)` for a loud skip. Scraped index HTML is
    * REMOTE-CONTROLLED input, so the staged name is validated before
    * it ever reaches a filesystem `Path`:
    *
    *  - a full URL on the SAME scheme+host as the index resolves like
    *    an absolute path (fetch it, key on the basename); a FOREIGN
    *    host is skipped — content elsewhere has no well-defined key
    *    in this mirror (deliberate deviation from the reference,
    *    whose `urljoin` would fetch any URL and use the whole URL
    *    string as the S3 key);
    *  - an absolute path (`/pub/x/pr.txt`) resolves against the index
    *    URL's scheme+host — the reference's `urljoin`
    *    (`Task_1_sync_bls_files.py:155`) — and keys the mirror on the
    *    BASENAME (the BLS index's absolute hrefs all live in the
    *    indexed directory, so the basename IS the file's identity);
    *  - a relative href fetches `base + href` and must be a single
    *    path segment (a directory index never links files through
    *    intermediate segments; `a/../../x` and friends die here);
    *  - the staged name is the PERCENT-DECODED form (the HTTP request
    *    uses the raw, still-encoded href), and after decoding must be
    *    a plain file name: no separators, no `.`/`..`, no
    *    query/fragment chars, no control chars, not empty.
    */
  private[graft] def resolveHref(
      base: String, href: String): Either[String, (String, String)] = {
    val baseUri = java.net.URI.create(base)
    def sameHost(u: java.net.URI): Boolean =
      u.getScheme == baseUri.getScheme &&
        u.getRawAuthority == baseUri.getRawAuthority
    if (href.contains("://")) {
      // full URL: same scheme+host resolves like an absolute path
      // (basename key); anything else has no key in this mirror
      val u = try java.net.URI.create(href)
        catch { case _: IllegalArgumentException => return Left("unparseable URL") }
      if (u.getScheme == null || u.getRawPath == null || !sameHost(u))
        Left("foreign absolute URL - no key in this mirror")
      else if (u.getRawQuery != null || u.getRawFragment != null)
        Left("query/fragment URL - fetch target differs from its key")
      else {
        val p = u.getRawPath
        percentDecode(p.substring(p.lastIndexOf('/') + 1)) match {
          case None => Left("malformed percent-encoding")
          case Some(name) => validatedName(name).map(n => (href, n))
        }
      }
    } else {
      val (fetchUrl, rawName) =
        if (href.startsWith("/")) {
          // scheme://authority of the index page + the absolute path
          (s"${baseUri.getScheme}://${baseUri.getRawAuthority}$href",
            href.substring(href.lastIndexOf('/') + 1))
        } else (base + href, href)
      percentDecode(rawName) match {
        case None => Left("malformed percent-encoding")
        case Some(name) => validatedName(name).map(n => (fetchUrl, n))
      }
    }
  }

  /** The staged-key safety gate shared by every [[resolveHref]]
    * branch: a decoded name must be a plain single-segment file name.
    */
  private def validatedName(name: String): Either[String, String] =
    if (name.isEmpty || name == "." || name == "..")
      Left("empty or dot-segment name")
    else if (name.exists(c => c == '/' || c == '\\' || c < ' '))
      Left("path separator or control char in decoded name")
    else if (name.exists(c => c == '?' || c == '#'))
      Left("query/fragment char in name")
    else Right(name)

  /** Decode `%XX` sequences only (URLDecoder also maps `+` to space,
    * which is wrong for path segments); `None` on a malformed escape.
    */
  private def percentDecode(s: String): Option[String] = {
    val out = new java.io.ByteArrayOutputStream(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%') {
        if (i + 2 >= s.length) return None
        val hex = s.substring(i + 1, i + 3)
        val v = try Integer.parseInt(hex, 16)
          catch { case _: NumberFormatException => return None }
        out.write(v)
        i += 3
      } else {
        val bytes = c.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        out.write(bytes, 0, bytes.length)
        i += 1
      }
    }
    Some(new String(out.toByteArray, java.nio.charset.StandardCharsets.UTF_8))
  }
}
