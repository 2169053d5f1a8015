package graft

import java.io.File
import java.nio.file.Files

/** Tooling guards over the main sources: which files call a given API
  * in code, comments ignored.
  */
object SourceGuard {

  /** Scala source with comments removed; string and char literals kept. */
  def codeOf(src: String): String = {
    val out = new StringBuilder
    var i = 0
    var depth = 0 // nested block comments
    var quote: String = null // open string delimiter
    def at(s: String) = src.startsWith(s, i)
    while (i < src.length) {
      val c = src.charAt(i)
      if (depth > 0) {
        if (at("/*")) { depth += 1; i += 2 }
        else if (at("*/")) { depth -= 1; i += 2 }
        else { if (c == '\n') out += c; i += 1 }
      } else if (quote != null) {
        if (quote == "\"" && c == '\\') {
          out ++= src.slice(i, i + 2); i += 2
        } else if (at(quote)) {
          out ++= quote; i += quote.length; quote = null
        } else { out += c; i += 1 }
      } else if (at("//")) {
        while (i < src.length && src.charAt(i) != '\n') i += 1
      } else if (at("/*")) { depth = 1; i += 2 }
      else if (at("\"\"\"")) { quote = "\"\"\""; out ++= quote; i += 3 }
      else if (c == '"') { quote = "\""; out += c; i += 1 }
      else if (at("'\\")) {
        val end = src.indexOf('\'', i + 3)
        out ++= src.slice(i, end + 1); i = end + 1
      } else if (c == '\'' && i + 2 < src.length && src.charAt(i + 2) == '\'') {
        out ++= src.slice(i, i + 3); i += 3
      } else { out += c; i += 1 }
    }
    out.toString
  }

  /** Every `src/main/scala` file as (relative path, code with comments
    * stripped), sorted by path. Run from the project root.
    */
  def mainSources: Seq[(String, String)] = {
    val root = new File("src/main/scala")
    require(root.isDirectory, s"run from the project root: ${root.getAbsolutePath}")
    def scalaFiles(d: File): Seq[File] =
      Option(d.listFiles()).toSeq.flatten.flatMap { f =>
        if (f.isDirectory) scalaFiles(f)
        else if (f.getName.endsWith(".scala")) Seq(f) else Nil
      }
    scalaFiles(root).map { f =>
      root.toPath.relativize(f.toPath).toString ->
        codeOf(new String(Files.readAllBytes(f.toPath), "UTF-8"))
    }.sortBy(_._1)
  }

  /** `src/main/scala`-relative paths, sorted, of the files whose code
    * (comments stripped) contains `token`.
    */
  def mainFilesCalling(token: String): Seq[String] =
    mainSources.collect { case (f, code) if code.contains(token) => f }
}
