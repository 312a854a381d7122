package graft.tools

/** Shared source-scan plumbing for the allowlist sweeps
  * ([[BroadcastHintSweepSpec]], [[CollectSiteSweepSpec]],
  * [[graft.core.SessionsSpec]]): find call sites of a pattern in a
  * source tree with comments stripped, so the sweeps assert over CODE,
  * not scaladoc prose.
  *
  * Context absorption, so allowlist markers can name the operand:
  *  - a site line ending in `(` (a wrapped argument) absorbs the NEXT
  *    code line;
  *  - a site line starting with `.` (a chained call on its own line,
  *    e.g. a bare `.collect()`) absorbs the PREVIOUS code line.
  *
  * Line-comment stripping spares `://` (URL literals). Known
  * limitation, fail-open by construction: a `//` inside a string
  * literal truncates that line — a site hidden after one would be
  * MISSED, not misreported; no current source shapes do this.
  */
private[graft] object SourceSites {

  final case class Site(file: String, line: Int, text: String)

  /** Pattern sites in one source, comments stripped. `pattern` must be
    * a regex with no capture groups; match position identifies a site.
    */
  def sites(file: String, source: String,
            pattern: scala.util.matching.Regex): Seq[Site] = {
    var inBlock = false
    val code = source.linesIterator.zipWithIndex.map { case (raw, i) =>
      var s = raw
      if (inBlock) {
        val end = s.indexOf("*/")
        if (end < 0) s = "" else { s = s.substring(end + 2); inBlock = false }
      }
      val out = new StringBuilder
      var j = 0
      while (j < s.length) {
        if (s.startsWith("/*", j)) {
          val end = s.indexOf("*/", j + 2)
          if (end < 0) { inBlock = true; j = s.length }
          else j = end + 2
        } else if (s.startsWith("//", j) && (j == 0 || s.charAt(j - 1) != ':')) {
          j = s.length
        } else { out += s.charAt(j); j += 1 }
      }
      (i + 1, out.result())
    }.toVector
    def codeAt(k: Int): String =
      if (k >= 0 && k < code.length) code(k)._2.trim else ""
    code.indices.flatMap { k =>
      val (ln, text) = code(k)
      if (pattern.findFirstIn(text).isEmpty) None
      else {
        var t = text.trim
        if (t.endsWith("(") && codeAt(k + 1).nonEmpty)
          t = t + " " + codeAt(k + 1)
        if (t.startsWith(".")) {
          // previous non-empty code line, so a bare chained call
          // carries its operand into the marker match
          val prev = (k - 1 to math.max(0, k - 3) by -1)
            .map(codeAt).find(_.nonEmpty).getOrElse("")
          if (prev.nonEmpty) t = prev + " " + t
        }
        Some(Site(file, ln, t))
      }
    }
  }

  /** Every pattern site under `root` (paths relative to it). */
  def scanTree(root: java.io.File,
               pattern: scala.util.matching.Regex): Seq[Site] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root).flatMap { f =>
      val rel = root.toPath.relativize(f.toPath).toString
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath),
        java.nio.charset.StandardCharsets.UTF_8)
      sites(rel, src, pattern)
    }
  }
}
