package graft.tools

/** Shared source-scan plumbing for the allowlist sweeps
  * ([[BroadcastHintSweepSpec]], [[CollectSiteSweepSpec]],
  * [[graft.core.SessionsSpec]]) and the [[PublicSurfaceSpec]]: find call
  * sites of a pattern in a source tree with comments stripped, so the
  * sweeps assert over CODE, not scaladoc prose.
  *
  * Context absorption, so allowlist markers can name the operand:
  *  - a site line ending in `(` (a wrapped argument) absorbs the NEXT
  *    code line;
  *  - a site line starting with `.` (a chained call on its own line,
  *    e.g. a bare `.collect()`) absorbs the PREVIOUS code line.
  *
  * String literals are tracked, so a comment opener inside one (a URL's
  * `//`) is never taken for a comment.
  */
private[graft] object SourceSites {

  final case class Site(file: String, line: Int, text: String)

  /** `source` line by line with comments removed. With `keepStrings`
    * false, string literal contents are removed too, except the
    * `$name` / `${expr}` parts of an interpolated literal, which are
    * code; each literal is left as an empty `""`.
    */
  def code(source: String, keepStrings: Boolean = true): Vector[String] = {
    var inBlock = false
    // Some(triple, interpolated) while inside a string literal
    var inString: Option[(Boolean, Boolean)] = None
    source.linesIterator.map { s =>
      val out = new StringBuilder
      val n = s.length
      var j = 0
      def isIdent(c: Char) = c.isLetterOrDigit || c == '_'
      while (j < n) {
        if (inBlock) {
          val end = s.indexOf("*/", j)
          if (end < 0) j = n else { j = end + 2; inBlock = false }
        } else inString match {
          case Some((triple, interp)) =>
            val close = if (triple) s.startsWith("\"\"\"", j) else s.charAt(j) == '"'
            if (close) {
              out += '"'
              j += (if (triple) 3 else 1)
              inString = None
            } else if (!triple && s.charAt(j) == '\\') {
              if (keepStrings) out ++= s.substring(j, math.min(j + 2, n))
              j += 2
            } else if (interp && s.startsWith("$$", j)) {
              if (keepStrings) out ++= "$$"
              j += 2
            } else if (interp && s.startsWith("${", j)) {
              var depth = 0
              var k = j + 1
              while (k < n && !(s.charAt(k) == '}' && depth == 1)) {
                if (s.charAt(k) == '{') depth += 1
                else if (s.charAt(k) == '}') depth -= 1
                k += 1
              }
              out ++= (if (keepStrings) s.substring(j, math.min(k + 1, n))
                       else " " + s.substring(j + 2, math.min(k, n)) + " ")
              j = k + 1
            } else if (interp && s.charAt(j) == '$' && j + 1 < n &&
                       (s.charAt(j + 1).isLetter || s.charAt(j + 1) == '_')) {
              var k = j + 1
              while (k < n && isIdent(s.charAt(k))) k += 1
              out ++= (if (keepStrings) s.substring(j, k)
                       else " " + s.substring(j + 1, k) + " ")
              j = k
            } else {
              if (keepStrings) out += s.charAt(j)
              j += 1
            }
          case None =>
            val c = s.charAt(j)
            if (s.startsWith("/*", j)) { inBlock = true; j += 2 }
            else if (s.startsWith("//", j)) j = n
            else if (c == '"') {
              val triple = s.startsWith("\"\"\"", j)
              val interp = j > 0 && isIdent(s.charAt(j - 1))
              out ++= (if (triple) "\"\"\"" else "\"")
              j += (if (triple) 3 else 1)
              inString = Some((triple, interp))
            } else if (c == '\'' && j + 2 < n && s.charAt(j + 2) == '\'') {
              out ++= s.substring(j, j + 3); j += 3 // char literal
            } else if (c == '\'' && j + 3 < n && s.charAt(j + 1) == '\\' &&
                       s.charAt(j + 3) == '\'') {
              out ++= s.substring(j, j + 4); j += 4 // escaped char literal
            } else { out += c; j += 1 }
        }
      }
      // a single-quoted literal never spans lines
      if (inString.exists(!_._1)) inString = None
      out.result()
    }.toVector
  }

  /** Pattern sites in one source, comments stripped. `pattern` must be
    * a regex with no capture groups; match position identifies a site.
    */
  def sites(file: String, source: String,
            pattern: scala.util.matching.Regex): Seq[Site] = {
    val lines = code(source)
    def codeAt(k: Int): String =
      if (k >= 0 && k < lines.length) lines(k).trim else ""
    lines.indices.flatMap { k =>
      if (pattern.findFirstIn(lines(k)).isEmpty) None
      else {
        var t = lines(k).trim
        if (t.endsWith("(") && codeAt(k + 1).nonEmpty)
          t = t + " " + codeAt(k + 1)
        if (t.startsWith(".")) {
          // previous non-empty code line, so a bare chained call
          // carries its operand into the marker match
          val prev = (k - 1 to math.max(0, k - 3) by -1)
            .map(codeAt).find(_.nonEmpty).getOrElse("")
          if (prev.nonEmpty) t = prev + " " + t
        }
        Some(Site(file, k + 1, t))
      }
    }
  }

  /** Every `.scala` file under `root`, with its path relative to `root`,
    * in a stable order.
    */
  def sources(root: java.io.File): Seq[(String, String)] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.sortBy(_.getName).flatMap(walk)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    walk(root).map { f =>
      root.toPath.relativize(f.toPath).toString ->
        new String(java.nio.file.Files.readAllBytes(f.toPath),
          java.nio.charset.StandardCharsets.UTF_8)
    }
  }

  /** Every pattern site under `root` (paths relative to it). */
  def scanTree(root: java.io.File,
               pattern: scala.util.matching.Regex): Seq[Site] =
    sources(root).flatMap { case (rel, src) => sites(rel, src, pattern) }
}
