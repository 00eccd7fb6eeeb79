package graft

import java.io.File

import org.scalatest.funsuite.AnyFunSuite

/** Guard against library code that nothing runs. Every public top-level name
  * in `src/main/scala` (a top-level object, class or trait, and each public
  * def/val/var/object/class/trait member of one) must be referenced
  * somewhere in `src/main` outside its own definition, or in
  * `perfbench/src`, or carry a reasoned line in `tools/test_only_api.txt`. Specs do not count as callers: code
  * that only its own spec calls is either deleted or ledgered with the
  * reason it stays (a reference implementation a spec compares against, an
  * SQL entry point, a `runMain` tool).
  *
  * Plain text over the sources with comments blanked out, no SparkSession.
  * A reference is any occurrence of the bare identifier, so a name that is
  * shared with another symbol counts as called; the guard catches names
  * that appear nowhere at all. */
class UncalledApiSpec extends AnyFunSuite {

  private val root = new File(tools.Sf1Coverage.defaultRoot())
  private val ledgerPath = "tools/test_only_api.txt"

  private def scalaFiles(dir: File): Seq[File] =
    if (dir.isDirectory) dir.listFiles.toSeq.sortBy(_.getName).flatMap(scalaFiles)
    else if (dir.getName.endsWith(".scala")) Seq(dir)
    else Nil

  /** `src` with comments replaced by their line breaks; string and char
    * literals are kept (a name inside a string still counts as a use). */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    def copyTo(end: Int, from: Int): Int = { out ++= src.substring(from, end); end }
    def endOf(token: String, from: Int, past: Int): Int = src.indexOf(token, from) match {
      case -1 => src.length
      case e => e + past
    }
    var i = 0
    while (i < src.length) {
      val c = src.charAt(i)
      if (src.startsWith("/*", i)) {
        val end = endOf("*/", i + 2, 2)
        out ++= src.substring(i, end).filter(_ == '\n')
        i = end
      } else if (src.startsWith("//", i)) i = endOf("\n", i, 0)
      else if (src.startsWith("\"\"\"", i)) i = copyTo(endOf("\"\"\"", i + 3, 3), i)
      else if (c == '"') {
        var j = i + 1
        while (j < src.length && src.charAt(j) != '"' && src.charAt(j) != '\n')
          j += (if (src.charAt(j) == '\\') 2 else 1)
        i = copyTo(math.min(j + 1, src.length), i)
      } else if (c == '\'' && src.startsWith("\\", i + 1)) i = copyTo(endOf("'", i + 2, 1), i)
      else if (c == '\'' && src.startsWith("'", i + 2)) i = copyTo(i + 3, i)
      else { out += c; i += 1 }
    }
    out.toString
  }

  private case class SourceFile(path: String, lines: IndexedSeq[String]) {
    private val ident = "[A-Za-z_][A-Za-z0-9_]*".r
    /** identifier -> the line numbers it occurs on */
    val uses: Map[String, Seq[Int]] = lines.indices
      .flatMap(n => ident.findAllIn(lines(n)).map(_ -> n))
      .groupMap(_._1)(_._2)
  }

  private def load(dir: String): Seq[SourceFile] =
    scalaFiles(new File(root, dir)).map { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try SourceFile(root.toPath.relativize(f.toPath).toString,
        stripComments(src.mkString).split("\n", -1).toIndexedSeq)
      finally src.close()
    }

  /** A public declaration: `name` (qualified by its top-level owner for
    * members) over source lines [from, until). */
  private case class Decl(name: String, owner: Option[String], file: SourceFile,
      from: Int, until: Int) {
    def qualified: String = owner.fold(name)(o => s"$o.$name")
  }

  private val Modifiers = "(?:(?:final|implicit|override|lazy|case|sealed|abstract)\\s+)*"
  private val TopLevel =
    s"^((?:private|protected)\\S*\\s+)?$Modifiers(object|class|trait)\\s+([A-Za-z_][A-Za-z0-9_]*).*".r
  private val Member = s"^  $Modifiers(def|val|var|object|class|trait)\\s+([A-Za-z_][A-Za-z0-9_]*).*".r

  private def indent(l: String): Int = l.length - l.dropWhile(_ == ' ').length

  /** End of the body starting at line `at`: the next non-blank line indented
    * no deeper than the declaration that is not a closing bracket. */
  private def spanEnd(lines: IndexedSeq[String], at: Int): Int = {
    val depth = indent(lines(at))
    var j = at + 1
    while (j < lines.length && (lines(j).trim.isEmpty || indent(lines(j)) > depth ||
        "})]".contains(lines(j).trim.head))) j += 1
    j
  }

  private def decls(file: SourceFile): Seq[Decl] = {
    var owner: Option[String] = None
    file.lines.indices.flatMap { n =>
      file.lines(n) match {
        case TopLevel(access, _, name) => // a non-public container hides its members
          owner = Option.when(access == null)(name)
          owner.map(Decl(_, None, file, n, spanEnd(file.lines, n))).toSeq
        case Member(_, name) if owner.isDefined =>
          Seq(Decl(name, owner, file, n, spanEnd(file.lines, n)))
        case _ => Nil
      }
    }
  }

  private lazy val main = load("src/main/scala")
  private lazy val bench = load("perfbench/src")

  private def called(d: Decl): Boolean =
    main.exists(f => f.uses.getOrElse(d.name, Nil)
      .exists(n => f.path != d.file.path || n < d.from || n >= d.until)) ||
      bench.exists(_.uses.contains(d.name))

  /** Uncalled public names, qualified. A member of an uncalled container is
    * covered by the container's own entry. */
  private lazy val uncalled: Map[String, String] = {
    val all = main.flatMap(decls)
    val dead = all.filterNot(called)
    val deadOwners = dead.filter(_.owner.isEmpty).map(_.name).toSet
    dead.filterNot(_.owner.exists(deadOwners))
      .map(d => d.qualified -> s"${d.file.path}:${d.from + 1}").toMap
  }

  /** `name  reason` lines; '#' starts a comment line. */
  private lazy val ledger: Map[String, String] = {
    val src = scala.io.Source.fromFile(new File(root, ledgerPath), "UTF-8")
    try src.getLines().map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#")).map { l =>
      val parts = l.split("\\s+", 2)
      assert(parts.length == 2 && parts(1).trim.length >= 10,
        s"$ledgerPath line needs 'name  reason': '$l'")
      parts(0) -> parts(1).trim
    }.toMap
    finally src.close()
  }

  test("every public name that nothing in src/main or perfbench/src calls is ledgered") {
    val missing = uncalled.keySet -- ledger.keySet
    assert(missing.isEmpty,
      "delete these, call them, or add a reasoned line to " + ledgerPath + ":\n" +
        missing.toSeq.sorted.map(n => s"  $n (${uncalled(n)})").mkString("\n"))
  }

  test("every ledger line names a symbol that exists and is still uncalled") {
    val stale = ledger.keySet -- uncalled.keySet
    assert(stale.isEmpty,
      s"stale $ledgerPath lines (symbol gone or now called): ${stale.toSeq.sorted.mkString(", ")}")
  }
}
