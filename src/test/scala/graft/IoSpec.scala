package graft

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

import graft.io.{Catalog, Sinks}
import graft.sync.CdcMerge

/** Catalog listing, href scrape, sinks, and the full sync round-trip
  * (list → hash → merge → delete) on a local temp "object store".
  */
class IoSpec extends SparkSpec {
  import spark.implicits._

  test("listFiles returns name/path/length; latestKey picks lexicographic max") {
    val dir = tempDir("catalog")
    Files.writeString(dir.resolve("population_data_20240101_000000.json"), "{}")
    Files.writeString(dir.resolve("population_data_20240301_000000.json"), "{}")
    Files.writeString(dir.resolve("pr.data.0.Current"), "x\ty")
    val listing = Catalog.listFiles(spark, dir.toString)
    assert(listing.count() === 3)
    val latest = Catalog.latestKey(listing, "population_data_", ".json")
      .collect()(0).getString(0)
    assert(latest === "population_data_20240301_000000.json")
  }

  test("listFiles: hash is the md5 of the file bytes") {
    val dir = tempDir("hashing")
    Files.writeString(dir.resolve("a.txt"), "abc")
    val row = Catalog.listFiles(spark, dir.toString).collect()(0)
    assert(row.getAs[String]("hash") === "900150983cd24fb0d6963f7d28e17f72")
    assert(row.getAs[String]("name") === "a.txt")
    assert(row.getAs[Long]("length") === 3L)
  }

  test("listFiles: marker and checksum files are neither listed nor hashed") {
    val dir = tempDir("hidden")
    Files.writeString(dir.resolve("a"), "alpha")
    Files.writeString(dir.resolve("b.txt"), "beta")
    Files.writeString(dir.resolve("_SUCCESS"), "")
    Files.writeString(dir.resolve(".a.crc"), "crc")
    val files = Catalog.listFiles(spark, dir.toString)
    def names(df: DataFrame) = df.collect().map(_.getString(0)).sorted.toSeq
    val listed = names(files.select("name"))
    assert(listed === Seq("a", "b.txt"))
    assert(names(files.select("name", "hash")) === listed)
    // the driver-side listing sees exactly what binaryFile reads, hidden
    // names at every depth included
    for (f <- Seq("sub/c", "sub/.d", "sub/_e", "_hidden/f", ".dot/g",
        "_k=1/h", "sub/i._COPYING_", "sub/.j.parquet.0.graft_tmp")) {
      Files.createDirectories(dir.resolve(f).getParent)
      Files.writeString(dir.resolve(f), f)
    }
    val visible = Catalog.listVisible(dir.toString,
      spark.sparkContext.hadoopConfiguration)
    assert(visible.map(_.name).sorted === Seq("_k=1/h", "a", "b.txt", "sub/c"))
    assert(visible.map(_.path).sorted.toSeq === Catalog.listFiles(spark, dir.toString)
      .select("path").collect().map(_.getString(0)).sorted.toSeq)
  }

  test("listFiles: a missing directory is an empty catalog") {
    val missing = tempDir("gone").resolve("definitely_missing").toString
    val files = Catalog.listFiles(spark, missing)
    assert(files.columns.toSeq === Seq("name", "path", "length", "mod_time", "hash"))
    assert(files.count() === 0)
  }

  test("listFiles: a listing that selects no hash reads no file content") {
    val dir = tempDir("pruned")
    Files.writeString(dir.resolve("a.txt"), "alpha")
    def readSchema(df: DataFrame) = df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f.requiredSchema.fieldNames.toSet
    }
    val files = Catalog.listFiles(spark, dir.toString)
    assert(readSchema(files.select("name", "length", "mod_time")) ===
      Seq(Set("path", "length", "modificationTime")))
    assert(readSchema(files.select("name", "hash")) === Seq(Set("path", "content")))
    // the sync's hash scan of named files reads their content and status
    val path = Catalog.listVisible(dir.toString,
      spark.sparkContext.hadoopConfiguration).map(_.path)
    assert(readSchema(Catalog.hashFiles(spark, path).select("path", "hash")) ===
      Seq(Set("path", "content")))
    assert(readSchema(Catalog.hashFiles(spark, path)) ===
      Seq(Set("path", "length", "modificationTime", "content")))
  }

  test("hashFiles: hashes exactly the named files, glob characters literal") {
    val dir = tempDir("named")
    for (n <- Seq("a[1].txt", "b{x,y}.txt", "c*.txt", "c1.txt", "d e.txt"))
      Files.writeString(dir.resolve(n), n)
    val conf = spark.sparkContext.hadoopConfiguration
    val listed = Catalog.listVisible(dir.toString, conf)
    val named = listed.filter(_.name != "c1.txt")
    val got = Catalog.hashFiles(spark, named.map(_.path))
      .select("path", "hash").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(b => f"$b%02x").mkString
    assert(got === named.map(f => f.path -> md5(f.name)).toMap)
    assert(Catalog.hashFiles(spark, Nil).count() === 0)
  }

  test("listFiles: a length filter drops a file before its content is read") {
    val dir = tempDir("sized")
    Files.writeString(dir.resolve("small"), "abc")
    Files.writeString(dir.resolve("big"), "x" * 100)
    val key = "spark.sql.sources.binaryFile.maxLength"
    // reading content longer than maxLength fails the task, so `big`
    // must be filtered out on its file status, unread
    val pinned = spark.conf.getOption(key)
    spark.conf.set(key, "10")
    try {
      val small = Catalog.listFiles(spark, dir.toString)
        .filter(col("length") < 10).select("name", "hash")
        .collect().map(r => r.getString(0) -> r.getString(1)).toSeq
      assert(small === Seq("small" -> "900150983cd24fb0d6963f7d28e17f72"))
      val unfiltered = intercept[org.apache.spark.SparkException](
        Catalog.listFiles(spark, dir.toString).select("hash").collect())
      assert(Iterator.iterate[Throwable](unfiltered)(_.getCause)
        .takeWhile(_ != null)
        .exists(e => String.valueOf(e.getMessage).contains("exceeds the max length")))
    } finally pinned.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("only io/Catalog reads a file catalog; main code registers no data source") {
    assert(SourceGuard.mainFilesCalling("format(\"binaryFile\")") ===
      Seq("graft/io/Catalog.scala"))
    assert(Seq("TableProvider", "DataSourceRegister")
      .flatMap(SourceGuard.mainFilesCalling) === Nil)
  }

  test("hrefsFromHtml extracts file links, skips dirs and parent refs") {
    val html = Seq(
      """<html><a href="../">up</a><a href="pr.data.0.Current">f</a>
        |<a href="subdir/">d</a><a href="pr.class">c</a>
        |<a href="?C=N;O=D">sort</a></html>""".stripMargin).toDF("html")
    val hrefs = Catalog.hrefsFromHtml(html).collect().map(_.getString(0)).toSet
    assert(hrefs === Set("pr.data.0.Current", "pr.class"))
  }

  test("resolveHref: urljoin parity for absolute paths, hostile hrefs die") {
    import graft.sync.SyncJob
    val base = "http://host:8080/pub/series/"
    // plain relative name: fetch base+name, stage under the same name
    assert(SyncJob.resolveHref(base, "pr.txt") ===
      Right(("http://host:8080/pub/series/pr.txt", "pr.txt")))
    // percent-encoded name: fetch the RAW (encoded) href, stage the
    // decoded form — and '+' stays '+' (path semantics, not form)
    assert(SyncJob.resolveHref(base, "pr%20notes+v2.txt") ===
      Right(("http://host:8080/pub/series/pr%20notes+v2.txt",
        "pr notes+v2.txt")))
    // absolute path: reference urljoin — index host + path, basename key
    assert(SyncJob.resolveHref(base, "/pub/series/pr.class") ===
      Right(("http://host:8080/pub/series/pr.class", "pr.class")))
    // full URL on the SAME scheme+host: resolves, basename key
    assert(SyncJob.resolveHref(base, "http://host:8080/pub/pr.full") ===
      Right(("http://host:8080/pub/pr.full", "pr.full")))
    // remote-controlled traversal and separator shapes must all die
    // BEFORE any Path construction; foreign hosts, scheme/port
    // mismatches, and query/fragment URLs have no key in this mirror
    for (bad <- Seq("../evil", "a/../../evil", "sub/inner.txt", "..",
        "%2e%2e%2fevil", "a%2fb", "evil%00", "name?C=M;O=A", "n#frag",
        "http://other.host/x", "https://host:8080/pub/x",
        "http://host:9090/pub/x", "http://host:8080/pub/x?d=1",
        "http://host:8080", "http://host:8080/pub/%2e%2e",
        "%zz", "%2"))
      assert(SyncJob.resolveHref(base, bad).isLeft, s"must reject: $bad")
    // absolute path whose BASENAME decodes hostile is rejected too
    assert(SyncJob.resolveHref(base, "/pub/%2e%2e").isLeft)
  }

  test("sync round-trip: list + hash both sides -> merge -> delete applied") {
    val remote = tempDir("remote")
    val stored = tempDir("stored")
    Files.writeString(remote.resolve("f1"), "new content")
    Files.writeString(remote.resolve("f2"), "same")
    Files.writeString(stored.resolve("f2"), "same")
    Files.writeString(stored.resolve("f3"), "retired")
    def hashes(dir: java.nio.file.Path) = Catalog.listFiles(spark, dir.toString)
      .select("name", "hash").collect().map(x => x.getString(0) -> x.getString(1)).toMap
    val merged = CdcMerge.plan(hashes(remote), hashes(stored))
    val actions = merged.map(d => d.name -> d.action).toMap
    assert(actions === Map("f1" -> "insert", "f2" -> "skip", "f3" -> "delete"))
    // apply deletes
    val toDelete = merged.filter(d => CdcMerge.deleteActions(d.action)).map(_.name).toSet
    val deletePaths = Catalog.listFiles(spark, stored.toString)
      .collect().filter(r => toDelete(r.getAs[String]("name")))
      .map(_.getAs[String]("path")).toSeq
    Sinks.deletePaths(spark, deletePaths)
    assert(!Files.exists(stored.resolve("f3")))
    assert(Files.exists(stored.resolve("f2")))
  }

  test("SyncJob.run applies insert/update/delete end-to-end and is idempotent") {
    import graft.sync.SyncJob
    val src = tempDir("sj_src")
    val dst = tempDir("sj_dst")
    Files.writeString(src.resolve("f_new"), "fresh")
    Files.writeString(src.resolve("f_changed"), "v2")
    Files.writeString(src.resolve("f_same"), "same")
    Files.writeString(dst.resolve("f_changed"), "v1")
    Files.writeString(dst.resolve("f_same"), "same")
    Files.writeString(dst.resolve("f_orphan"), "gone upstream")

    val plan1 = SyncJob.run(spark, src.toString, dst.toString)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(plan1 === Map("f_new" -> "insert", "f_changed" -> "update",
      "f_same" -> "skip", "f_orphan" -> "delete"))
    // destination now mirrors source byte-for-byte
    assert(Files.readString(dst.resolve("f_new")) === "fresh")
    assert(Files.readString(dst.resolve("f_changed")) === "v2")
    assert(!Files.exists(dst.resolve("f_orphan")))
    // second pass: nothing to do
    val plan2 = SyncJob.run(spark, src.toString, dst.toString)
      .collect().map(_.getString(1)).toSet
    assert(plan2 === Set("skip"))
    // first sync into a nonexistent destination: all inserts
    val empty = tempDir("sj_empty").resolve("sub")
    val plan3 = SyncJob.run(spark, src.toString, empty.toString)
      .collect().map(_.getString(1)).toSet
    assert(plan3 === Set("insert"))
    assert(Files.readString(empty.resolve("f_same")) === "same")
  }

  test("SyncJob keys on relative paths: nested files sync correctly") {
    import graft.sync.SyncJob
    val src = tempDir("sj_nest_src")
    val dst = tempDir("sj_nest_dst")
    Files.createDirectories(src.resolve("sub/deeper"))
    Files.writeString(src.resolve("top.txt"), "t")
    Files.writeString(src.resolve("sub/deeper/leaf.txt"), "l")
    // same BASENAME in two places — a basename key would collide
    Files.writeString(src.resolve("sub/top.txt"), "shadow")
    val plan = SyncJob.run(spark, src.toString, dst.toString)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(plan === Map("top.txt" -> "insert",
      "sub/deeper/leaf.txt" -> "insert", "sub/top.txt" -> "insert"))
    assert(Files.readString(dst.resolve("top.txt")) === "t")
    assert(Files.readString(dst.resolve("sub/deeper/leaf.txt")) === "l")
    assert(Files.readString(dst.resolve("sub/top.txt")) === "shadow")
    // second pass: all skip — the relative key round-trips both sides
    val plan2 = SyncJob.run(spark, src.toString, dst.toString)
      .collect().map(_.getString(1)).toSet
    assert(plan2 === Set("skip"))
  }

  /** The full-hash plan `(name, action, remote_hash, stored_hash)`:
    * both sides md5'd by a whole-directory read ([[Catalog.listFiles]]),
    * keyed on the path relative to each directory.
    */
  private def fullHashPlan(src: java.nio.file.Path, dst: java.nio.file.Path) = {
    def hashes(d: java.nio.file.Path) = {
      val root = new org.apache.hadoop.fs.Path(d.toString)
      val prefix = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .makeQualified(root).toString + "/"
      Catalog.listFiles(spark, d.toString).select("path", "hash").collect()
        .map(r => r.getString(0).stripPrefix(prefix) -> r.getString(1)).toMap
    }
    CdcMerge.plan(hashes(src), hashes(dst))
      .map(d => (d.name, d.action, d.remoteHash.orNull, d.storedHash.orNull))
  }

  private def syncPlan(src: java.nio.file.Path, dst: java.nio.file.Path) =
    graft.sync.SyncJob.run(spark, src.toString, dst.toString).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)))

  /** Relative path → content of every file a catalog lists under `d`. */
  private def visibleTree(d: java.nio.file.Path): Map[String, String] =
    Catalog.listVisible(d.toString, spark.sparkContext.hadoopConfiguration)
      .map(f => f.name -> Files.readString(d.resolve(f.name))).toMap

  /** A same-length edit moves the mtime a second on, as any edit after
    * the hashed version's mtime tick does; an edit inside that tick is
    * the quick check's limit (see the test pinning it).
    */
  private def rewriteSameLength(p: java.nio.file.Path, content: String): Unit = {
    val before = Files.getLastModifiedTime(p).toMillis
    Files.writeString(p, content)
    Files.setLastModifiedTime(p,
      java.nio.file.attribute.FileTime.fromMillis(before + 1000))
  }

  test("SyncJob manifest: missing, corrupt and stale manifests give the full-hash plan") {
    import graft.sync.SyncJob
    val src = tempDir("mf_src")
    val dst = tempDir("mf_dst")
    val manifest = dst.resolve(SyncJob.ManifestName)
    Seq("a" -> "alpha", "b" -> "beta", "c" -> "gamma", "d" -> "delta")
      .foreach { case (n, v) => Files.writeString(src.resolve(n), v) }
    assert(syncPlan(src, dst).map(_._2).toSet === Set("insert"))
    assert(Files.exists(manifest))
    // the sync's plan equals the full-hash plan; returns the sync's jobs
    def check(expected: Map[String, String]): Int = {
      val want = fullHashPlan(src, dst)
      val (got, jobs) = jobsDuring(syncPlan(src, dst))
      assert(got === want)
      assert(got.map(r => r._1 -> r._2).toMap === expected)
      assert(visibleTree(dst) === visibleTree(src))
      jobs
    }
    // stale: dst edited out-of-band with a new length, dst edited with
    // the same length and a new mtime, dst deleted, src edited
    Files.writeString(dst.resolve("a"), "ALPHA!")
    rewriteSameLength(dst.resolve("b"), "BETA")
    Files.delete(dst.resolve("c"))
    Files.writeString(src.resolve("d"), "delta v2")
    check(Map("a" -> "update", "b" -> "update", "c" -> "insert", "d" -> "update"))
    // missing: a full re-hash of both sides, the same plan
    Files.delete(manifest)
    Files.writeString(dst.resolve("a"), "edited")
    assert(check(Map("a" -> "update", "b" -> "skip", "c" -> "skip",
      "d" -> "skip")) === 1, "one hash scan of all 8 files")
    // corrupt: unparsable header, then a row with a bad field
    for (junk <- Seq("not a manifest\n",
        "graft-sync-manifest 1\nxx\tNaN\t1\t2\t3\ta\n")) {
      Files.writeString(manifest, junk)
      Files.writeString(dst.resolve("a"), s"edited under $junk".take(40))
      check(Map("a" -> "update", "b" -> "skip", "c" -> "skip", "d" -> "skip"))
    }
  }

  test("SyncJob: seeded insert/edit/delete steps match the full-hash plan every step") {
    val src = tempDir("eq_src")
    val dst = tempDir("eq_dst")
    val rng = new scala.util.Random(20240512)
    val names = Seq("a", "b", "c", "sub/d", "sub/e", "sub/deep/f", "g h")
    def content() = rng.alphanumeric.take(1 + rng.nextInt(12)).mkString
    var seen = Set.empty[(String, String)]
    for (step <- 1 to 30) {
      val side = if (rng.nextDouble() < 0.7) src else dst
      val n = names(rng.nextInt(names.size))
      val p = side.resolve(n)
      val op =
        if (!Files.exists(p)) "insert"
        else Seq("edit", "edit_same_length", "delete")(rng.nextInt(3))
      op match {
        case "insert" =>
          Files.createDirectories(p.getParent)
          Files.writeString(p, content())
        case "edit" => Files.writeString(p, Files.readString(p) + content())
        case "edit_same_length" =>
          rewriteSameLength(p, Files.readString(p).reverse.map(c => (c ^ 1).toChar))
        case "delete" => Files.delete(p)
      }
      seen += ((if (side == src) "src" else "dst") -> op)
      val want = fullHashPlan(src, dst)
      assert(syncPlan(src, dst) === want, s"step $step: $op $n")
      assert(visibleTree(dst) === visibleTree(src), s"step $step: $op $n")
    }
    // the sequence touched both sides with every kind of step
    assert(seen.map(_._1) === Set("src", "dst"))
    assert(seen.map(_._2) === Set("insert", "edit", "edit_same_length", "delete"))
  }

  test("SyncJob: a no-change run submits no Spark job; one new source file submits one") {
    val src = tempDir("jobs_src")
    val dst = tempDir("jobs_dst")
    Seq("a", "b", "sub/c").foreach { n =>
      Files.createDirectories(src.resolve(n).getParent)
      Files.writeString(src.resolve(n), n)
    }
    syncPlan(src, dst)
    val (idle, idleJobs) = jobsDuring(syncPlan(src, dst))
    assert(idleJobs === 0)
    assert(idle.map(_._2).toSet === Set("skip"))
    Files.writeString(src.resolve("new"), "fresh")
    val (one, oneJobs) = jobsDuring(syncPlan(src, dst))
    assert(oneJobs === 1, "the hash scan of the new file")
    assert(one.filter(_._2 != "skip").map(r => r._1 -> r._2) === Seq("new" -> "insert"))
    assert(jobsDuring(syncPlan(src, dst))._2 === 0)
  }

  test("SyncJob: copies land through hidden temp names; none is left or listed") {
    import graft.sync.SyncJob
    val src = tempDir("tmp_src")
    val dst = tempDir("tmp_dst")
    Files.createDirectories(src.resolve("sub"))
    Files.writeString(src.resolve("a"), "alpha")
    Files.writeString(src.resolve("sub/b"), "beta")
    Files.writeString(dst.resolve("a"), "stale")
    syncPlan(src, dst)
    Files.writeString(src.resolve("a"), "alpha v2")
    syncPlan(src, dst)
    val left = {
      val w = Files.walk(dst)
      try w.iterator().asScala.filter(Files.isRegularFile(_))
        .map(dst.relativize(_).toString).toSet finally w.close()
    }
    // no temp file and no checksum file beside the mirror
    assert(left === Set("a", "sub/b", SyncJob.ManifestName))
    // a temp name is hidden from the catalog and from the file stream source
    val land = tempDir("tmp_land").resolve("land")
    Seq(1L, 2L, 3L).toDF("id").coalesce(1).write.parquet(land.toString)
    val part = {
      val l = Files.list(land)
      try l.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally l.close()
    }
    val tmp = SyncJob.tempPath(new org.apache.hadoop.fs.Path(
      land.resolve("late.parquet").toString))
    Files.copy(part, java.nio.file.Paths.get(tmp.toString))
    assert(tmp.getName.startsWith("."))
    assert(Catalog.listVisible(land.toString, spark.sparkContext.hadoopConfiguration)
      .map(_.name) === Seq(part.getFileName.toString))
    val drained = graft.stream.Streams.runAvailableNow(
      graft.stream.Streams.fileSource(spark, land.toString,
        org.apache.spark.sql.types.StructType.fromDDL("id BIGINT")),
      "sync_tmp_probe")
    assert(drained.count() === 3)
  }

  test("SyncJob quick check limit: a same-length edit with its mtime restored goes unseen") {
    import graft.sync.SyncJob
    val src = tempDir("lim_src")
    val dst = tempDir("lim_dst")
    Files.writeString(src.resolve("a"), "v1")
    syncPlan(src, dst)
    val mtime = Files.getLastModifiedTime(src.resolve("a"))
    Files.writeString(src.resolve("a"), "v2")
    Files.setLastModifiedTime(src.resolve("a"), mtime)
    // the manifest vouches for the old md5: the reference's stored-ETag
    // trust, and the plan differs from a full re-hash
    assert(syncPlan(src, dst).map(_._2) === Seq("skip"))
    assert(fullHashPlan(src, dst).map(_._2) === Seq("update"))
    // deleting the manifest forces the full pass
    Files.delete(dst.resolve(SyncJob.ManifestName))
    val want = fullHashPlan(src, dst)
    assert(syncPlan(src, dst) === want)
    assert(Files.readString(dst.resolve("a")) === "v2")
  }

  test("SyncJob.runHttp: live index scrape with 403 retry/backoff applies end-to-end") {
    import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
    import graft.sync.SyncJob
    // BLS-shaped fixture: a directory index page linking data files
    // plus the link noise the scraper must skip (parent ref, subdir,
    // sort-order query links) — served from an in-process JDK server
    val files = scala.collection.mutable.LinkedHashMap(
      "pr.data.0.Current" ->
        "series_id\tyear\tperiod\tvalue\nPRS1\t2024\tQ01\t1.5\n",
      "pr.txt" -> "readme v1")
    @volatile var indexHits = 0
    @volatile var courtesyHits = 0
    @volatile var lastAgent: String = null
    @volatile var extraLinks = ""
    val broken = scala.collection.mutable.Set[String]()
    def respond(x: HttpExchange, code: Int, body: Array[Byte]): Unit = {
      x.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
      try if (body.nonEmpty) x.getResponseBody.write(body)
      finally x.close()
    }
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/pub", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        val path = x.getRequestURI.getPath
        lastAgent = x.getRequestHeaders.getFirst("User-Agent")
        if (path == "/pub" || path == "/pub/") {
          indexHits += 1
          // first two index hits 403 — the reference's BLS-blocked
          // case; recovery requires the backoff + courtesy-visit path
          if (indexHits <= 2) respond(x, 403, "Forbidden".getBytes)
          else {
            val links = files.keys.map(n =>
              s"""<a href="$n">$n</a>""").mkString
            val noise = """<a href="../">up</a><a href="sub/">d</a>""" +
              """<a href="?C=M;O=A">sort</a>"""
            respond(x, 200, s"<html>$noise$extraLinks$links</html>".getBytes)
          }
        } else {
          val name = path.stripPrefix("/pub/")
          if (broken(name)) respond(x, 500, "boom".getBytes)
          else if (name == "pr.abs") respond(x, 200, "absolute ok".getBytes)
          else files.get(name) match {
            case Some(c) => respond(x, 200, c.getBytes)
            case None => respond(x, 404, Array.emptyByteArray)
          }
        }
      }
    })
    server.createContext("/", new HttpHandler {
      override def handle(x: HttpExchange): Unit = {
        courtesyHits += 1
        respond(x, 200, "<html>root</html>".getBytes)
      }
    })
    server.start()
    try {
      val port = server.getAddress.getPort
      val url = s"http://127.0.0.1:$port/pub"
      val root = s"http://127.0.0.1:$port/"
      val dst = tempDir("http_dst").toString
      val staging = tempDir("http_stage").toString + "/s"
      val delays = scala.collection.mutable.ArrayBuffer[Long]()

      // pass 1 also serves: an ABSOLUTE-path href (reference urljoin
      // parity - resolves against the index host, keys on basename)
      // and two traversal hrefs that must be skipped, never written
      extraLinks = """<a href="/pub/pr.abs">abs</a>""" +
        """<a href="../evil.txt">e</a><a href="a/../../evil2">e2</a>"""
      val plan1 = SyncJob.runHttp(spark, url, dst, staging,
          courtesyUrl = Some(root), retryDelayMs = 5000L,
          sleep = delays += _)
        .get.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      // reference retry schedule: 5 s then exponential ×2, one
      // courtesy root visit per 403 retry, browser UA on every request
      assert(delays.toSeq === Seq(5000L, 10000L))
      assert(courtesyHits === 2)
      assert(indexHits === 3)
      assert(lastAgent != null && lastAgent.startsWith("Mozilla/5.0"))
      assert(plan1 === Map("pr.data.0.Current" -> "insert",
        "pr.txt" -> "insert", "pr.abs" -> "insert"))
      assert(Files.readString(
        java.nio.file.Paths.get(dst, "pr.txt")) === "readme v1")
      assert(Files.readString(
        java.nio.file.Paths.get(dst, "pr.abs")) === "absolute ok",
        "absolute-path href must resolve against the index host")
      // the traversal targets must not exist anywhere near the
      // staging or mirror roots
      for (d <- Seq(dst, staging); bad <- Seq("evil.txt", "evil2"))
        assert(!Files.exists(
          java.nio.file.Paths.get(d).getParent.resolve(bad)),
          s"traversal href must never write $bad")

      // upstream mutates: one update, one delete (plus the absolute
      // href vanishing from the index), one new file; the index now
      // serves 200 straight away (no further backoff)
      extraLinks = ""
      files("pr.txt") = "readme v2"
      files.remove("pr.data.0.Current")
      files("pr.data.1.AllData") = "series_id\tyear\nPRS1\t2023\n"
      val plan2 = SyncJob.runHttp(spark, url, dst, staging,
          courtesyUrl = Some(root), retryDelayMs = 5000L,
          sleep = delays += _)
        .get.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(delays.size === 2, "no retries once the index serves 200")
      assert(plan2 === Map("pr.txt" -> "update",
        "pr.data.1.AllData" -> "insert",
        "pr.data.0.Current" -> "delete", "pr.abs" -> "delete"))
      assert(!Files.exists(java.nio.file.Paths.get(dst, "pr.abs")))
      assert(Files.readString(
        java.nio.file.Paths.get(dst, "pr.txt")) === "readme v2")
      assert(!Files.exists(
        java.nio.file.Paths.get(dst, "pr.data.0.Current")))

      // a LISTED file whose download fails must never be deleted from
      // the mirror (deletes key on the listing, not download success):
      // serve it in the index but 500 its GET - the stored copy
      // survives as "skip"
      broken += "pr.data.1.AllData"
      val plan3 = SyncJob.runHttp(spark, url, dst, staging,
          courtesyUrl = Some(root), retryDelayMs = 5000L,
          sleep = delays += _)
        .get.collect().map(r => r.getString(0) -> r.getString(1)).toMap
      assert(plan3 === Map("pr.txt" -> "skip",
        "pr.data.1.AllData" -> "skip"))
      assert(Files.exists(
        java.nio.file.Paths.get(dst, "pr.data.1.AllData")),
        "stored copy of an unfetchable listed file must survive")

      // a 200 index page that parses to ZERO file links (maintenance
      // page, HTML shape change) is treated like a failed fetch: no-op
      // pass, mirror untouched — never "everything vanished, delete
      // the mirror"
      val before = new java.io.File(dst).listFiles().map(_.getName).toSet
      files.clear() // index now renders only the noise links
      val plan4 = SyncJob.runHttp(spark, url, dst, staging,
        courtesyUrl = Some(root), retryDelayMs = 5000L,
        sleep = delays += _)
      assert(plan4.isEmpty, "empty listing must degrade to a no-op pass")
      assert(new java.io.File(dst).listFiles().map(_.getName).toSet
        === before, "mirror must be untouched by an empty listing")
    } finally server.stop(0)
  }

  test("parquet column bloom filters: written to footers, honored on read") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import org.apache.hadoop.fs.Path
    val dir = tempDir("bloom_pq").toString + "/t"
    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .select("l_orderkey", "l_partkey", "l_quantity")
    Sinks.writeParquetBloom(li, dir, Seq("l_orderkey"), ndv = 10000L)
    // footer-level proof: the row groups carry a bloom filter for the
    // enabled column and none for the others
    val conf = spark.sessionState.newHadoopConf()
    val file = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet")).head
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file.getPath), conf))
    try {
      val rg = r.getRowGroups.get(0)
      val bloomRdr = r.getBloomFilterDataReader(rg)
      import scala.jdk.CollectionConverters._
      val byCol = rg.getColumns.asScala
        .map(c => c.getPath.toDotString -> c).toMap
      val okBloom = bloomRdr.readBloomFilter(byCol("l_orderkey"))
      assert(okBloom != null, "l_orderkey must carry a bloom filter")
      assert(bloomRdr.readBloomFilter(byCol("l_partkey")) == null,
        "unrequested columns must not pay for a bloom filter")
      // the filter answers membership: an existing key hits, and at
      // 1% fpp at least one of a batch of absent keys misses
      import org.apache.parquet.column.values.bloomfilter.BloomFilter
      def mightContain(b: BloomFilter, v: Long) =
        b.findHash(b.hash(v))
      val present = spark.read.parquet(dir)
        .agg(min("l_orderkey")).collect()(0).getLong(0)
      assert(mightContain(okBloom, present))
      val absentMisses = (1 to 50)
        .map(i => -1000000L - i)
        .count(v => !mightContain(okBloom, v))
      assert(absentMisses > 0, "bloom filter never rejects - not built?")
    } finally r.close()
    // read-side correctness under pushdown: equality scan matches
    val key = li.agg(max("l_orderkey")).collect()(0).getLong(0)
    val got = spark.read.parquet(dir)
      .filter(col("l_orderkey") === key).count()
    val want = li.filter(col("l_orderkey") === key).count()
    assert(got === want && want > 0)
  }

  test("compact refuses partitioned layouts and crash residue") {
    import spark.implicits._
    // hive-style partition dirs must be refused, not flattened
    val pdir = tempDir("cmp_part").toString + "/t"
    Seq((1, "a"), (2, "b")).toDF("v", "k")
      .write.partitionBy("k").parquet(pdir)
    val e = intercept[IllegalArgumentException](Sinks.compact(spark, pdir))
    assert(e.getMessage.contains("partition"))
    // __compact_old without the live dir = a swap died mid-rename:
    // refuse so the human restores, never delete the survivor
    val gone = tempDir("cmp_crash").toString + "/t"
    Seq(1, 2).toDF("v").write.parquet(gone + ".__compact_old")
    val e2 = intercept[IllegalArgumentException](Sinks.compact(spark, gone))
    assert(e2.getMessage.contains("__compact_old"))
    // a missing target is a clear precondition message, not a raw
    // FileNotFoundException out of listStatus
    val missing = tempDir("cmp_none").toString + "/t"
    val e3 = intercept[IllegalArgumentException](Sinks.compact(spark, missing))
    assert(e3.getMessage.contains("does not exist"))
  }

  test("format round-trips: orc, csv (schema-first), json, text") {
    val base = tempDir("formats").toString
    val df = spark.read.parquet(s"$sfDir/nation.parquet")
    val want = df.orderBy("n_nationkey").collect().toSeq

    df.write.mode("overwrite").orc(s"$base/orc")
    assert(spark.read.orc(s"$base/orc")
      .orderBy("n_nationkey").collect().toSeq === want)

    df.write.mode("overwrite").option("header", "true").csv(s"$base/csv")
    assert(spark.read.option("header", "true").schema(df.schema)
      .csv(s"$base/csv").orderBy("n_nationkey").collect().toSeq === want)

    df.write.mode("overwrite").json(s"$base/json")
    assert(spark.read.schema(df.schema).json(s"$base/json")
      .orderBy("n_nationkey").collect().toSeq === want)

    import spark.implicits._
    Seq("line one", "line two").toDF("value").write
      .mode("overwrite").text(s"$base/text")
    assert(spark.read.text(s"$base/text").count() === 2)
  }

  test("partitioned parquet write enables partition pruning") {
    val dir = tempDir("part_out").toString
    val df = Seq((1, "en", "a"), (2, "de", "b"), (3, "en", "c"))
      .toDF("id", "lang", "v")
    Sinks.writeParquet(df, dir, partitionBy = Seq("lang"))
    val pruned = spark.read.parquet(dir).filter(col("lang") === "en")
    assert(pruned.count() === 2)
    // pruning shows up as partition filters, not data filters
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"), plan)
  }

  test("z-ordered write bounds per-file ranges in BOTH dimensions") {
    import graft.io.Clustering
    // independent uniform dims: a plain sort on one leaves the other
    // full-range per file; z-order must bound both
    val rnd = new scala.util.Random(7)
    val df = (1 to 4000).map(_ =>
      (rnd.nextInt(100000).toLong, rnd.nextInt(100000).toLong))
      .toDF("a", "b")
    def avgFileSpan(dir: String, c: String): Double = {
      val spans = spark.read.parquet(dir)
        .groupBy(input_file_name())
        .agg((max(col(c)) - min(col(c))).as("span"))
        .collect().map(_.getLong(1).toDouble)
      spans.sum / spans.length
    }
    val zDir = tempDir("zorder").toString
    Clustering.writeZOrdered(df, zDir, "a", "b", numFiles = 16)
    val aDir = tempDir("asort").toString
    df.repartitionByRange(16, col("a")).sortWithinPartitions("a")
      .write.mode("overwrite").parquet(aDir)
    // single-dim sort: 'a' narrow, 'b' full-range (~100k)
    assert(avgFileSpan(aDir, "a") < 20000.0)
    assert(avgFileSpan(aDir, "b") > 80000.0)
    // z-order: BOTH dims bounded well below full range
    val (zA, zB) = (avgFileSpan(zDir, "a"), avgFileSpan(zDir, "b"))
    assert(zA < 50000.0, s"z-order file span a = $zA")
    assert(zB < 50000.0, s"z-order file span b = $zB")
    // and the data round-trips unchanged
    assert(spark.read.parquet(zDir).count() === 4000)
  }

  test("tolerant jsonl read quarantines corrupt lines, keeps good rows") {
    import org.apache.spark.sql.types._
    val dir = tempDir("jsonl").toString
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(s"$dir/in.jsonl"),
      """{"id": 1, "v": "a"}
        |{"id": 2, "v": "b"}
        |{this is not json
        |{"id": 3, "v": "c"}
        |also not json
        |""".stripMargin)
    val schema = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType)))
    val rows = graft.io.Readers
      .readJsonlTolerant(spark, s"$dir/in.jsonl", schema).collect()
    val good = rows.filter(_.isNullAt(2))
    val bad = rows.filter(!_.isNullAt(2))
    assert(good.map(_.getLong(0)).sorted.toSeq === Seq(1L, 2L, 3L))
    assert(bad.length === 2) // every corrupt line audited, none dropped
    assert(bad.forall(_.isNullAt(0))) // schema fields null on bad rows
  }

  test("compaction collapses a many-file dir, preserves data exactly") {
    val dir = tempDir("compact").toString + "/t"
    val df = spark.range(0, 10000).selectExpr("id", "id * 2 AS v")
    df.repartition(64).write.parquet(dir) // the small-file problem
    def parquetFiles() = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(parquetFiles() === 64)
    val before = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    Sinks.compact(spark, dir) // tiny data -> one target file
    assert(parquetFiles() === 1, s"expected 1 file, got ${parquetFiles()}")
    val after = spark.read.parquet(dir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(after === before)
  }

  test("stats index skips files outside the predicate range") {
    import graft.io.StatsIndex
    val dir = tempDir("statsidx").toString + "/t"
    // 16 files with mostly-disjoint value ranges (range-partitioned
    // write), so a narrow predicate can only touch a few of them
    val df = (0 until 16000).map(i => (i.toLong, i.toDouble)).toDF("id", "v")
    df.repartitionByRange(16, col("v")).write.parquet(dir)
    val stats = StatsIndex.build(spark, dir, Seq("v"))
    val nFiles = stats.count()
    assert(nFiles >= 8, s"expected a multi-file table, got $nFiles files")
    val cand = StatsIndex.candidateFiles(stats, "v", lit(3000.0), lit(4000.0))
    assert(cand.nonEmpty && cand.length <= 3,
      s"narrow range should touch few files, got ${cand.length} of $nFiles")
    // identical rows to the plain filter
    val got = StatsIndex.prunedRead(spark, dir, stats, "v",
      lit(3000.0), lit(4000.0)).select("id").collect().map(_.getLong(0)).sorted
    assert(got === (3000L to 4000L).toArray)
    // empty-candidate range: schema preserved, zero rows, no crash
    val none = StatsIndex.prunedRead(spark, dir, stats, "v",
      lit(1e9), lit(2e9))
    assert(none.columns.toSeq === Seq("id", "v") && none.count() === 0)
    // incremental maintenance: append files, update indexes only them
    (16000 until 18000).map(i => (i.toLong, i.toDouble))
      .toDF("id", "v").repartitionByRange(2, col("v"))
      .write.mode("append").parquet(dir)
    val updated = StatsIndex.update(spark, dir, stats, Seq("v"))
    val rebuilt = StatsIndex.build(spark, dir, Seq("v"))
    assert(updated.orderBy("file_path").collect().map(_.toString).toSeq ===
      rebuilt.orderBy("file_path").collect().map(_.toString).toSeq)
    assert(updated.count() === nFiles + 2)
  }

  test("sharded export: deterministic placement, manifest audits output") {
    import graft.io.ShardWriter
    val dir = tempDir("shards").toString + "/t"
    val df = (0 until 1000).map(i => (s"doc$i", i * 2)).toDF("doc_id", "v")
    val m1 = ShardWriter.write(df, dir, 8, "doc_id").collect()
    assert(m1.map(_.getAs[Int]("shard")).toSeq === (0 until 8))
    assert(m1.map(_.getAs[Long]("n_rows")).sum === 1000L)
    // balanced-ish: no shard more than 3x the mean
    assert(m1.forall(_.getAs[Long]("n_rows") < 3 * 125))
    // round-trip preserves the data
    val back = spark.read.parquet(dir)
    assert(back.count() === 1000)
    assert(back.select("doc_id", "v").exceptAll(df).count() === 0)
    // rerun lands every row in the same shard: identical manifest
    val m2 = ShardWriter.write(df, dir, 8, "doc_id").collect()
    assert(m1.map(_.toString).toSeq === m2.map(_.toString).toSeq)
    // shard readers prune: one shard dir holds exactly its manifest rows
    val s0 = spark.read.parquet(dir).where(col("shard") === 0).count()
    assert(s0 === m1.find(_.getAs[Int]("shard") == 0).get.getAs[Long]("n_rows"))
  }

  test("bucketed join: no Exchange, no Sort, result matches shuffled join") {
    import graft.io.Bucketing
    import spark.implicits._
    val db = "graft_bkt_spec"
    val loc = tempDir("bkt_wh").toString
    Bucketing.ensureDatabase(spark, db, loc)
    val fact = (1L to 2000L).map(i => (i % 97, i.toDouble)).toDF("k", "v")
    val dim = (0L until 97L).map(i => (i, s"g${i % 5}")).toDF("k", "name")
    Bucketing.writeBucketed(fact, s"$db.fact_b", "k", 4)
    Bucketing.writeBucketed(dim, s"$db.dim_b", "k", 4)
    // keep the small side from broadcasting so the assert sees the
    // sort-merge path the bucket layout is for
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = Bucketing.bucketedJoin(spark, s"$db.fact_b", s"$db.dim_b", "k")
      assert(Bucketing.isShuffleFree(joined),
        s"expected no Exchange:\n${joined.queryExecution.executedPlan}")
      assert(!joined.queryExecution.executedPlan.toString.contains("Sort ["),
        "bucket sortBy should satisfy the SMJ ordering requirement")
      val viaShuffle = fact.join(dim, "k").agg(sum("v")).collect()(0).getDouble(0)
      val viaBuckets = joined.agg(sum("v")).collect()(0).getDouble(0)
      assert(viaBuckets === viaShuffle)
      // bucketing also satisfies aggregation distribution: groupBy on
      // the bucket key plans a single agg with no exchange
      val agg = spark.table(s"$db.fact_b").groupBy("k").agg(sum("v"))
      assert(Bucketing.isShuffleFree(agg),
        s"expected exchange-free agg:\n${agg.queryExecution.executedPlan}")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed minhash band index: probe shuffles only the batch side") {
    // the production layout for the incremental near-dup index
    // (Dedup.minhashIncremental): store the band keys bucketed on
    // band_hash, and a daily probe join scans the index IN PLACE —
    // only the (small) batch side shuffles. Shuffle bytes per run are
    // O(batch), not O(index), which is the whole point of keeping an
    // index at 100 TB.
    import graft.io.Bucketing
    import graft.dedup.Dedup
    val db = "graft_mh_idx"
    val loc = tempDir("mh_idx_wh").toString
    Bucketing.ensureDatabase(spark, db, loc)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val old = docs.filter(pmod(col("doc_id"), lit(5L)) < 4)
    Bucketing.writeBucketed(
      Dedup.minhashBands(Dedup.minhashSignatures(old)),
      s"$db.mh_bands", "band_hash", 4)
    // AQE-off child session: plan-node collection needs real operators
    // (AdaptiveSparkPlanExec is a leaf); the warehouse table is shared
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.adaptive.enabled", "false")
    s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val batch = s2.read.parquet(s"$sfDir/documents.parquet")
      .filter(pmod(col("doc_id"), lit(5L)) === 4)
    val probe = Dedup.minhashBands(Dedup.minhashSignatures(batch))
      .select(col("doc_id").as("doc_n"), col("band_hash"))
    val idx = s2.table(s"$db.mh_bands")
      .select(col("doc_id").as("doc_o"), col("band_hash"))
    // join ON the bucket key ALONE: a cross-band hash collision only
    // ADDS a candidate pair (never loses one — equal (band, hash)
    // implies equal hash), and every candidate is verified against
    // the signatures downstream, so the band column can stay out of
    // the join and the bucket layout carries the whole key
    val cand = probe.join(idx, Seq("band_hash"))
      .select("doc_n", "doc_o")
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val plan = cand.queryExecution.executedPlan
    val smj = plan.collectFirst { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, s"expected a sort-merge probe join:\n$plan")
    val sides = Seq(smj.get.left, smj.get.right)
    val idxSide = sides.find(_.collect {
      case s: FileSourceScanExec => s }.exists(_.bucketedScan))
    assert(idxSide.nonEmpty, s"index side must plan a bucketed scan:\n$plan")
    assert(idxSide.get.collect {
      case e: ShuffleExchangeExec => e }.isEmpty,
      s"stored index must not re-shuffle on probe:\n${idxSide.get}")
    val batchSide = sides.find(s => !idxSide.contains(s)).get
    assert(batchSide.collect {
      case e: ShuffleExchangeExec => e }.nonEmpty,
      "the batch side is the one that shuffles")
    // semantics: after the signature-verify stage both candidate
    // generators (bucket-key-only vs the two-key shuffle join) yield
    // the SAME final relation — collisions are verified away
    val oldDocs = s2.read.parquet(s"$sfDir/documents.parquet")
      .filter(pmod(col("doc_id"), lit(5L)) < 4)
    val allSigs = Dedup.minhashSignatures(
      oldDocs.unionByName(batch))
    def verified(c: org.apache.spark.sql.DataFrame) =
      Dedup.minhashSimilarity(
          c.filter(col("doc_n") =!= col("doc_o"))
            .select(least(col("doc_n"), col("doc_o")).as("doc_a"),
              greatest(col("doc_n"), col("doc_o")).as("doc_b"))
            .distinct(),
          allSigs)
        .filter(col("est_jaccard") >= 0.7)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val reference = Dedup.minhashBands(Dedup.minhashSignatures(batch))
      .select(col("doc_id").as("doc_n"), col("band"), col("band_hash"))
      .join(Dedup.minhashBands(Dedup.minhashSignatures(oldDocs))
          .select(col("doc_id").as("doc_o"), col("band"),
            col("band_hash")),
        Seq("band", "band_hash"))
      .select("doc_n", "doc_o")
    assert(verified(cand) === verified(reference))
    assert(verified(cand).nonEmpty, "vacuous without near-dups")
  }

  test("timestamped path + json sink + record sink") {
    val out = Sinks.timestampedPath(
      tempDir("sink").toString, "population_data_", ".json")
    assert(out.matches(".*population_data_\\d{8}_\\d{6}\\.json"))
    val df = Seq((1, "a"), (2, "b")).toDF("id", "v")
    Sinks.writeJson(df, out)
    val back = spark.read.json(out)
    assert(back.count() === 2)
    val recs = Sinks.toJsonRecords(df).collect().map(_.getString(0)).sorted
    assert(recs(0) === """{"id":1,"v":"a"}""")
  }
}
