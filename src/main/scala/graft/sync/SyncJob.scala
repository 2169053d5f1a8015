package graft.sync

import java.nio.charset.StandardCharsets.UTF_8

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.hadoop.fs.{ChecksumFileSystem, FileSystem, FileUtil, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.io.{Catalog, Sinks}

/** End-to-end catalog sync: mirror `srcDir` into `dstDir` — the whole of
  * the reference's `sync_files()` (`lambda_functions/sync_and_fetch.py:
  * 60-120` and `Task_1_sync_bls_files.py:150-198`):
  *
  *  1. list both sides on the driver ([[Catalog.listVisible]]);
  *  2. quick check: reuse a key's md5 from the destination manifest
  *     while that side's (length, mtime) still equals the manifest row,
  *     and hash every other file of either side in ONE distributed
  *     `binaryFile` scan ([[Catalog.hashFiles]]; none when every file
  *     is vouched for);
  *  3. classify every key insert / update / skip / delete
  *     ([[CdcMerge.plan]], on the driver);
  *  4. apply: copy insert+update (each to a hidden temp name, then
  *     renamed into place), delete orphans, rewrite the manifest.
  *
  * Listing, decision and apply run on the driver over keys, like the
  * reference's per-key loop; hashing, the part that reads content, is
  * distributed (one task per file). A call costs O(changed files): with
  * nothing changed it reads the two listings and the manifest, and runs
  * no Spark job. The manifest plays
  * the part of the reference's stored ETag, and has its limit: an edit
  * that keeps a file's length and mtime (an mtime restored by hand, or
  * a same-length rewrite within one mtime tick of the hashed version)
  * goes unseen until that file's status changes. Deleting the manifest
  * forces a full re-hash on the next call; a missing or unparsable one
  * means the same. One sync at a time per destination.
  */
object SyncJob {

  /** The destination manifest: one row per key mirrored by the last
    * call. The dot prefix hides it from [[Catalog.listVisible]],
    * `binaryFile`, the file stream source and Hadoop input formats.
    */
  val ManifestName = ".graft_sync_manifest"

  private val ManifestHeader = "graft-sync-manifest 1"

  /** A manifest row: the key's md5 and the (length, mtime) of its
    * source and destination files when that md5 was taken.
    */
  private final case class Kept(md5: String, src: (Long, Long), dst: (Long, Long))

  /** Plan + apply one sync; returns the plan
    * `(name, action, remote_hash, stored_hash)` as a local relation, so
    * reading it runs no job (the reference prints per-file outcomes;
    * callers aggregate by action).
    */
  def run(spark: SparkSession, srcDir: String, dstDir: String): DataFrame = {
    val conf = spark.sparkContext.hadoopConfiguration
    // resolve each side's OWN FileSystem — src and dst may live on
    // different schemes (s3a → file, hdfs → s3a, ...)
    val srcFs = new Path(srcDir).getFileSystem(conf)
    val dstFs = new Path(dstDir).getFileSystem(conf)
    val manifest = new Path(dstDir, ManifestName)
    val src = Catalog.listVisible(srcDir, conf)
    val dst = Catalog.listVisible(dstDir, conf)
    val kept = readManifest(dstFs, manifest)
    def vouched(f: Catalog.Entry, side: Kept => (Long, Long)) =
      kept.get(f.name).exists(k => side(k) == ((f.length, f.modTime)))
    val toHash = src.filterNot(vouched(_, _.src)) ++ dst.filterNot(vouched(_, _.dst))
    // path → (md5, status the content was read under); with nothing to
    // hash, not even a plan is built
    val hashed = if (toHash.isEmpty) Map.empty[String, (String, (Long, Long))]
      else Catalog.hashFiles(spark, toHash.map(_.path))
        .select(col("path"), col("hash"), col("length"), unix_millis(col("mod_time")))
        .collect()
        .map(r => r.getString(0) -> (r.getString(1) -> ((r.getLong(2), r.getLong(3)))))
        .toMap
    // name → (md5, status); a file that vanished before its hash is absent
    def side(files: Seq[Catalog.Entry], status: Kept => (Long, Long)) =
      files.flatMap { f =>
        if (vouched(f, status)) Some(f.name -> (kept(f.name).md5 -> ((f.length, f.modTime))))
        else hashed.get(f.path).map(f.name -> _)
      }.toMap
    val srcSide = side(src, _.src)
    val dstSide = side(dst, _.dst)
    val plan = CdcMerge.plan(srcSide.map { case (n, (h, _)) => n -> h },
      dstSide.map { case (n, (h, _)) => n -> h })

    dstFs.mkdirs(new Path(dstDir))
    val copied = plan.filter(d => CdcMerge.fetchActions(d.action)).map { d =>
      val target = new Path(s"$dstDir/${d.name}")
      d.name -> moveIntoPlace(dstFs, target) { tmp =>
        FileUtil.copy(srcFs, new Path(s"$srcDir/${d.name}"), unchecked(dstFs),
          tmp, false, true, conf)
      }
    }.toMap
    Sinks.deletePaths(spark, plan.filter(d => CdcMerge.deleteActions(d.action))
      .map(d => s"$dstDir/${d.name}"))
    // every source key is now mirrored: skipped ones under the status
    // they were checked with, copied ones under their renamed status.
    // The source status is the one the md5 was taken under, so a source
    // edited mid-sync is hashed again next call.
    val next = srcSide.map { case (n, (h, s)) =>
      n -> Kept(h, s, copied.getOrElse(n, dstSide(n)._2)) }
    if (next != kept) writeManifest(dstFs, manifest, next)

    spark.createDataFrame(plan.map(d => Row(d.name, d.action,
      d.remoteHash.orNull, d.storedHash.orNull)).asJava, PlanSchema)
  }

  private val PlanSchema = StructType(Seq("name", "action", "remote_hash",
    "stored_hash").map(StructField(_, StringType)))

  /** Writes `target` through a hidden temp file in its directory, then
    * renames it into place, so a reader listing the directory never
    * sees a half-written file. Returns the (length, mtime) `target`
    * has after the rename. The rename goes through `fs`, which drops a
    * checksum file an older copy of `target` left.
    */
  private def moveIntoPlace(fs: FileSystem, target: Path)(write: Path => Unit)
  : (Long, Long) = {
    val tmp = tempPath(target)
    try {
      write(tmp)
      // a rename onto an existing file fails on some file systems
      // (HDFS): drop the old copy and retry once
      if (!fs.rename(tmp, target) &&
          !(fs.delete(target, false) && fs.rename(tmp, target)))
        throw new java.io.IOException(s"cannot rename $tmp to $target")
    } finally fs.delete(tmp, false)
    val st = fs.getFileStatus(target)
    (st.getLen, st.getModificationTime)
  }

  /** `fs` without client-side checksum files. The sync writes the mirror
    * and the manifest through it: a `.crc` file beside a mirrored file
    * fails every later read of that file once it is edited out of band,
    * and the sync must read such a file to see the edit.
    */
  private def unchecked(fs: FileSystem): FileSystem = fs match {
    case c: ChecksumFileSystem => c.getRawFileSystem
    case f => f
  }

  /** The hidden temp name `target` is written under before its rename. */
  private[graft] def tempPath(target: Path): Path =
    new Path(target.getParent,
      s".${target.getName}.${java.util.UUID.randomUUID()}.graft_tmp")

  /** The manifest's rows by key; empty (a full re-hash) when the file is
    * missing or does not parse.
    */
  private def readManifest(fs: FileSystem, manifest: Path): Map[String, Kept] =
    if (!fs.exists(manifest)) Map.empty
    else {
      val in = fs.open(manifest)
      val text = try new String(in.readAllBytes(), UTF_8) finally in.close()
      val lines = text.split("\n", -1)
      try {
        require(lines.head == ManifestHeader && lines.last.isEmpty)
        lines.slice(1, lines.length - 1).map { l =>
          val Array(md5, sl, sm, dl, dm, name) = l.split("\t", 6)
          name -> Kept(md5, (sl.toLong, sm.toLong), (dl.toLong, dm.toLong))
        }.toMap
      } catch { case NonFatal(_) => Map.empty }
    }

  /** Rewrites the manifest: one tab-separated row per key, `md5, src
    * length, src mtime, dst length, dst mtime, name`, the relative name
    * last so a tab in it survives. A name with a line break is left
    * out (that key is hashed on every call).
    */
  private def writeManifest(fs: FileSystem, manifest: Path,
                            rows: Map[String, Kept]): Unit = {
    val body = rows.toSeq.sortBy(_._1).collect {
      case (n, k) if !n.exists(c => c == '\n' || c == '\r') =>
        s"${k.md5}\t${k.src._1}\t${k.src._2}\t${k.dst._1}\t${k.dst._2}\t$n\n"
    }.mkString(ManifestHeader + "\n", "", "")
    moveIntoPlace(fs, manifest) { tmp =>
      val out = unchecked(fs).create(tmp, true)
      try out.write(body.getBytes(UTF_8)) finally out.close()
    }
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
    * flows through [[run]]. `sleep` is injectable
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
                FileUtil.copy(dstFs, stored, fs,
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
