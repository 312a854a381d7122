package graft.tools

import org.scalatest.funsuite.AnyFunSuite

/** The library-surface sweep: every public member of an object, class or
  * trait under `src/main/scala/graft` has a caller in `src/main` or
  * `perfbench/src`, or a row in README's "Public entry points" table. A
  * name only specs call is a second form of some concept that no query,
  * pipeline stage or benchmark uses — it gets a caller, moves to
  * `src/test` (an oracle or fixture), or is deleted with its specs.
  *
  * The scan is name-based over comment- and string-stripped code
  * ([[SourceSites.code]]):
  *  - a member of object `O` is referenced by `O.name`, or by a bare
  *    `name` (not after a `.`) in `O`'s own file or in a file that
  *    names `O`; `apply`/`unapply` are referenced by `O(` or `O[`;
  *  - a member of a class or trait is referenced by `name` anywhere;
  *  - the member's own declaration (from its line to the next member of
  *    the same template) and any other declaration of the same name do
  *    not count.
  * It fails open on names shared with an unrelated caller: the sweep
  * finds surface nothing calls, not every unused overload.
  *
  * Exempt as entry points: `private`/`protected` and `override` members,
  * and everything under an object with a `main` method or under the
  * driver contract (`SparkEntry`, `GraftExtensions`).
  */
class PublicSurfaceSpec extends AnyFunSuite {
  import PublicSurfaceSpec._

  private val mainRoot = new java.io.File("src/main/scala")
  private val perfbenchRoot = new java.io.File("perfbench/src")

  private lazy val library: Seq[(String, Vector[String])] =
    SourceSites.sources(new java.io.File(mainRoot, "graft")).map {
      case (rel, src) => ("graft/" + rel) -> SourceSites.code(src, keepStrings = false)
    }

  private lazy val callers: Seq[(String, Vector[String])] =
    (SourceSites.sources(mainRoot) ++
      SourceSites.sources(perfbenchRoot).map { case (r, s) => s"perfbench/$r" -> s })
      .map { case (rel, src) => rel -> SourceSites.code(src, keepStrings = false) }

  private lazy val readme: String = new String(
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get("README.md")),
    java.nio.charset.StandardCharsets.UTF_8)

  test("every public member under src/main/scala/graft has a non-spec " +
      "caller or a row in README's Public entry points table") {
    assert(mainRoot.isDirectory && perfbenchRoot.isDirectory,
      s"expected source roots under ${new java.io.File(".").getAbsolutePath}")
    val members = library.flatMap { case (f, c) => declarations(f, c) }
    assert(members.size > 500, s"scanner found ${members.size} members — broken")
    val listed = entryPoints(readme)
    val uncalled = unreferenced(members, callers)
      .filterNot(m => listed.exists(m.covers))
    assert(uncalled.isEmpty, uncalled.map(question).mkString("\n"))
  }

  test("every README Public entry points row names a declared public " +
      "member") {
    val members = library.flatMap { case (f, c) => declarations(f, c) }
      .filter(_.public)
    val listed = entryPoints(readme)
    assert(listed.nonEmpty, "README has no Public entry points table")
    val dead = listed.filterNot(e => members.exists(_.qualified == e))
    assert(dead.isEmpty, "README Public entry points rows name no public " +
      s"member (renamed or removed — update the table): ${dead.mkString(", ")}")
  }

  test("a planted uncalled def trips the sweep; a comment or string " +
      "mention does not count as a caller") {
    val lib = "graft/operators/Planted.scala" -> SourceSites.code(
      """package graft.operators
        |object Planted {
        |  def used(x: Int): Int = x
        |  def unused(x: Int): Int = used(x)
        |  private def hidden: Int = 1
        |}
        |final class Holder {
        |  def touch(): Unit = ()
        |}""".stripMargin,
      keepStrings = false)
    val caller = "graft/queries/Caller.scala" -> SourceSites.code(
      """package graft.queries
        |object Caller {
        |  // Planted.unused is only named in this comment
        |  val msg = "Planted.unused"
        |  val n = graft.operators.Planted.used(1)
        |  def go(h: graft.operators.Holder): Unit = h.touch()
        |}""".stripMargin, keepStrings = false)
    val members = declarations(lib._1, lib._2)
    assert(members.filter(_.public).map(_.qualified).toSet ==
      Set("Planted.used", "Planted.unused", "Holder.touch"))
    val found = unreferenced(members, Seq(lib, caller))
    assert(found.map(_.qualified) == Seq("Planted.unused"),
      found.map(question).mkString("\n"))
    assert(question(found.head).contains("Public entry points"))
  }
}

object PublicSurfaceSpec {

  /** One declaration: `path` is the enclosing templates from the
    * outermost, `end` the first line (0-based) past its extent.
    */
  final case class Member(file: String, line: Int, end: Int,
                          path: Seq[String], ownerKind: String,
                          mods: String, name: String) {
    def owner: String = path.lastOption.getOrElse("")
    def qualified: String = (path :+ name).mkString(".")
    def public: Boolean =
      Set("object", "class", "trait").contains(ownerKind) &&
        !mods.contains("private") && !mods.contains("protected") &&
        !mods.contains("override")
    /** Listed in the table itself, or under a listed template. */
    def covers(entry: String): Boolean =
      qualified == entry || qualified.startsWith(entry + ".")
  }

  private val Decl = ("""^\s*((?:(?:final|implicit|lazy|override|sealed|""" +
    """abstract|case|private(?:\[\w+\])?|protected(?:\[\w+\])?|""" +
    """@\w+(?:\([^)]*\))?)\s+)*)(def|val|var|class|object|trait|type)\s+""" +
    """([A-Za-z_][A-Za-z0-9_]*)""").r

  private val EntryPoints = Set("SparkEntry", "GraftExtensions")

  /** Declarations in one comment- and string-stripped source, each with
    * the template it sits in (`object`/`class`/`trait`, or `block` for
    * a local inside a method body).
    */
  def declarations(file: String, code: Vector[String]): Seq[Member] = {
    // frames: (kind, name, brace depth inside the template)
    var stack = List.empty[(String, String, Int)]
    var depth = 0
    var pending: Option[(String, String)] = None
    // (member with a placeholder extent, the brace depth it sits at)
    val found = scala.collection.mutable.ArrayBuffer.empty[(Member, Int)]
    code.zipWithIndex.foreach { case (text, i) =>
      Decl.findFirstMatchIn(text).foreach { m =>
        val (mods, kind, name) = (m.group(1), m.group(2), m.group(3))
        val ownerKind = stack.headOption.filter(_._3 == depth).map(_._1)
          .getOrElse(if (depth == 0) "top" else "block")
        val path =
          if (ownerKind == "block") Nil
          else stack.reverse.filter(_._1 != "block").map(_._2)
        found += ((Member(file, i, i + 1, path, ownerKind, mods, name), depth))
        pending =
          if (Set("class", "object", "trait").contains(kind)) Some((kind, name))
          else None
      }
      text.foreach {
        case '{' =>
          depth += 1
          stack = pending.map { case (k, n) => (k, n, depth) }
            .getOrElse(("block", "", depth)) :: stack
          pending = None
        case '}' =>
          depth -= 1
          if (stack.nonEmpty) stack = stack.tail
        case _ =>
      }
    }
    // a member extends to the next declaration at its depth or shallower
    found.indices.map { k =>
      val (m, d) = found(k)
      m.copy(end = found.drop(k + 1).find(_._2 <= d).map(_._1.line)
        .getOrElse(code.length))
    }.toSeq
  }

  /** Public members with no reference in `callers`, after the
    * entry-point exemptions.
    */
  def unreferenced(members: Seq[Member],
                   callers: Seq[(String, Vector[String])]): Seq[Member] = {
    val mainObjects = members.filter(m => m.name == "main" &&
      m.ownerKind == "object").map(m => (m.file, m.path.headOption)).toSet
    val ident = "[A-Za-z_][A-Za-z0-9_]*".r
    // name -> (file, line, qualifier before a `.`, next char)
    val occurrences = callers.flatMap { case (f, lines) =>
      lines.zipWithIndex.flatMap { case (text, i) =>
        ident.findAllMatchIn(text).map { m =>
          val before = text.substring(0, m.start).trim
          // `x.name`: the identifier before the dot ("" after a call)
          val qual =
            if (before.endsWith(".")) Some(before.dropRight(1).trim.reverse
              .takeWhile(c => c.isLetterOrDigit || c == '_').reverse)
            else None
          val next = text.substring(m.end).dropWhile(_ == ' ')
            .headOption.getOrElse(' ')
          (m.matched, (f, i, qual, next))
        }
      }
    }.groupMap(_._1)(_._2)
    val mentions: Map[String, Set[String]] = callers.map { case (f, lines) =>
      f -> lines.flatMap(ident.findAllIn(_)).toSet
    }.toMap
    val declLines: Set[(String, Int, String)] = callers.flatMap {
      case (f, lines) => lines.zipWithIndex.flatMap { case (t, i) =>
        Decl.findFirstMatchIn(t).map(m => (f, i, m.group(3)))
      }
    }.toSet
    members.filter(_.public).filterNot { m =>
      mainObjects.contains((m.file, m.path.headOption)) ||
        m.path.headOption.exists(EntryPoints.contains)
    }.filterNot { m =>
      def outside(f: String, i: Int) =
        !(f == m.file && i >= m.line && i < m.end) &&
          !declLines.contains((f, i, m.name))
      val direct = occurrences.getOrElse(m.name, Nil).exists {
        case (f, i, qual, _) => outside(f, i) && (
          if (m.ownerKind != "object") true
          else qual.contains(m.owner) || (qual.isEmpty &&
            (f == m.file || mentions(f).contains(m.owner))))
      }
      val viaApply = Set("apply", "unapply").contains(m.name) &&
        occurrences.getOrElse(m.owner, Nil).exists {
          case (f, i, _, next) => outside(f, i) &&
            !declLines.contains((f, i, m.owner)) && (next == '(' || next == '[')
        }
      direct || viaApply
    }
  }

  /** The backticked names in the first column of README's "Public entry
    * points" table.
    */
  def entryPoints(readme: String): Set[String] = {
    val section = readme.linesIterator
      .dropWhile(l => !l.trim.startsWith("## Public entry points")).drop(1)
      .takeWhile(l => !l.startsWith("## ")).toSeq
    section.filter(_.trim.startsWith("|")).flatMap { row =>
      val first = row.trim.stripPrefix("|").split('|').headOption.getOrElse("")
      "`([A-Za-z_][A-Za-z0-9_.]*)`".r.findAllMatchIn(first).map(_.group(1))
    }.toSet
  }

  def question(m: Member): String =
    s"UNCALLED public ${m.qualified} at ${m.file}:${m.line + 1} — nothing " +
      "in src/main or perfbench/src calls it. Give it a caller, move it " +
      "to src/test if it is a spec oracle or fixture, delete it with the " +
      "specs that test only it, or list it in README's Public entry " +
      "points table with the reason it is public."
}
