package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every public or `private[graft]` `def` of an `object` under
  * `src/main/scala` is reached from a root: a registry shard, a main (`Bench`, `SpotBench`, `Verify`),
  * the native functions that SQL calls by name, or the benchmark program
  * under `perfbench/src`. A def that nothing reaches is deleted, or it
  * sits on [[ReachedScan.allowed]] with the reason it stays.
  */
class ReachedSpec extends AnyFunSuite {

  test("every public def of an object under src/main/scala is reached from a root") {
    val unreached = ReachedScan.unreached(Paths.get("src/main/scala"), Paths.get("perfbench/src"))
    assert(unreached.isEmpty, unreached.mkString("\n", "\n", ""))
  }

  test("every allowlist entry names a def that exists") {
    val defs = ReachedScan.defs(Paths.get("src/main/scala")).map(d => s"${d.obj}.${d.name}").toSet
    val stale = ReachedScan.allowed.keySet.filterNot(defs)
    assert(stale.isEmpty, stale.mkString("\n", "\n", ""))
  }
}

/** A source-text scan for the fixpoint of references.
  *
  * A live region is a whole root file, or the body of a def that a live
  * region names. `Obj.member` names `member` of every object `Obj`; a bare
  * `member` names it inside its own object, or in a file that imports
  * `Obj._` or `Obj.{member}`. Naming an object reaches its `apply`,
  * `unapply`, `implicit` and `override` defs, which are called without
  * their name. Members that are not defs (vals, nested classes) and code
  * outside objects count as live, so the scan errs toward keeping.
  */
object ReachedScan {

  /** Defs no query reaches that stay, each with its reason. Specs are
    * not roots: a def only a spec calls is a reference form and lives in
    * `graft.ReferenceForms` under `src/test/scala`.
    */
  val allowed: Map[String, String] = {
    val etl = "the source pipeline's own ETL operator (ROADMAP direction 3)"
    val hll = "PAPER §1 lists mergeable HLL distinct sketches"
    Map(
      "ReportCsv.readDelimited" -> etl,
      "Renames.trimColumnNames" -> etl,
      "Upsert.deleteConflicts" -> etl,
      "Dbf.readDbf" -> "PAPER §1 lists a dBase III reader",
      "Dbf.writeDbf" -> "PAPER §1 lists a dBase III writer",
      "Landing.landedState" -> "PAPER §1 lists a landing-zone state scan",
      "Incremental.distinctSketch" -> hll,
      "Incremental.mergeDistinctSketch" -> hll,
      "Incremental.sketchEstimate" -> hll,
    )
  }

  private val rootFiles =
    Set("Bench.scala", "SpotBench.scala", "Verify.scala", "Run.scala", "SparkEntry.scala",
      "GraftExtensions.scala")

  private def isRoot(p: Path): Boolean =
    p.getParent.getFileName.toString == "registry" || rootFiles(p.getFileName.toString)

  final case class Def(obj: String, name: String, file: Path, line: Int, start: Int, end: Int,
      checked: Boolean, implicitlyCalled: Boolean)

  private final case class Obj(name: String, start: Int, end: Int)

  private final class Source(val path: Path) {
    val raw: String = new String(Files.readAllBytes(path), "UTF-8")
    /** Comments blanked (offsets kept): the text references are read from. */
    val code: String = blank(raw, strings = false)
    /** Comments and literals blanked: the text braces are counted in. */
    val shape: String = blank(raw, strings = true)
    val depth: Array[Int] = {
      val d = new Array[Int](shape.length + 1)
      var i = 0
      while (i < shape.length) {
        d(i + 1) = d(i) + (shape(i) match { case '{' => 1; case '}' => -1; case _ => 0 })
        i += 1
      }
      d
    }
    def lineOf(i: Int): Int = raw.substring(0, i).count(_ == '\n') + 1
    def close(open: Int): Int = {
      var i = open + 1
      while (i < shape.length && depth(i + 1) > depth(open)) i += 1
      i
    }
  }

  /** Blanks comments, and string and char literals when `strings`, to spaces. */
  private def blank(s: String, strings: Boolean): String = {
    val out = s.toCharArray
    def wipe(from: Int, to: Int): Unit =
      for (k <- from until math.min(to, s.length) if out(k) != '\n') out(k) = ' '
    var i = 0
    while (i < s.length) {
      if (s.startsWith("//", i)) {
        val e = s.indexOf('\n', i)
        val end = if (e < 0) s.length else e
        wipe(i, end); i = end
      } else if (s.startsWith("/*", i)) {
        val e = s.indexOf("*/", i + 2)
        val end = if (e < 0) s.length else e + 2
        wipe(i, end); i = end
      } else if (s.startsWith("\"\"\"", i)) {
        var e = s.indexOf("\"\"\"", i + 3)
        if (e < 0) e = s.length - 3
        while (e + 3 < s.length && s(e + 3) == '"') e += 1
        if (strings) wipe(i, e + 3)
        i = e + 3
      } else if (s(i) == '"') {
        var e = i + 1
        while (e < s.length && s(e) != '"' && s(e) != '\n') e += (if (s(e) == '\\') 2 else 1)
        if (strings) wipe(i, e + 1)
        i = e + 1
      } else if (s(i) == '\'' && i + 2 < s.length &&
          (s(i + 2) == '\'' || (s(i + 1) == '\\' && i + 3 < s.length && s(i + 3) == '\''))) {
        val end = if (s(i + 2) == '\'') i + 3 else i + 4
        if (strings) wipe(i, end)
        i = end
      } else i += 1
    }
    new String(out)
  }

  private val ObjectDecl = """(?m)^[ \t]*(?:private(?:\[\w+\])?\s+|final\s+|case\s+)*object\s+(\w+)""".r
  private val MemberStart =
    """(?m)^[ \t]*((?:@\w+(?:\([^)]*\))?\s+)*(?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|implicit\s+|lazy\s+|sealed\s+|abstract\s+|case\s+)*)(def|val|var|class|object|trait|type)\s+([\w$]+|`[^`]+`)""".r
  private val Qualified = """\b([A-Z]\w*)\s*\.\s*([a-zA-Z_]\w*)""".r
  private val Word = """(?<![.\w])([a-zA-Z_]\w*)""".r
  private val Import = """(?m)^[ \t]*import\s+([\w.]+)\.(?:_|\{([^}]*)\})""".r

  private def sources(root: Path): Seq[Source] =
    if (!Files.isDirectory(root)) Nil
    else {
      val files = Files.walk(root)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList.sorted
        .map(new Source(_))
      finally files.close()
    }

  /** Top-level objects and the defs directly in their bodies. */
  private def parse(src: Source): (Seq[Obj], Seq[Def]) = {
    val objs = ObjectDecl.findAllMatchIn(src.code).toList.flatMap { m =>
      val open = src.shape.indexOf('{', m.end)
      if (src.depth(m.start) != 0 || open < 0) None
      else Some(Obj(m.group(1), open, src.close(open)))
    }
    val defs = objs.flatMap { o =>
      val members = MemberStart.findAllMatchIn(src.code).filter { m =>
        m.start > o.start && m.start < o.end && src.depth(m.start(2)) == src.depth(o.start) + 1
      }.toList
      members.zipWithIndex.collect { case (m, i) if m.group(2) == "def" =>
        val end = if (i + 1 < members.size) members(i + 1).start else o.end
        val mods = m.group(1)
        val name = m.group(3)
        Def(o.name, name, src.path, src.lineOf(m.start(2)), m.start, end,
          checked = mods.contains("private[graft]") ||
            !mods.contains("private") && !mods.contains("protected"),
          implicitlyCalled = name == "apply" || name == "unapply" ||
            mods.contains("override") || mods.contains("implicit"))
      }
    }
    (objs, defs)
  }

  def defs(main: Path): Seq[Def] = sources(main).flatMap(s => parse(s)._2)

  /** `file:line Obj.name` of each public or `private[graft]` def outside
    * `registry/` that no root reaches.
    */
  def unreached(main: Path, extraRoots: Path*): Seq[String] = {
    val srcs = sources(main)
    val parsed = srcs.map(s => s -> parse(s)).toMap
    val allDefs = srcs.flatMap(parsed(_)._2)
    val byObj = allDefs.groupBy(_.obj)
    val byPath = srcs.map(s => s.path -> s).toMap
    val imported = srcs.map { s =>
      s -> Import.findAllMatchIn(s.code).toList.flatMap { m =>
        val names = Option(m.group(2)).map(_.split(',').map(_.trim.split("\\s")(0)).toSet)
        byObj.getOrElse(m.group(1).split('.').last, Nil).filter(d => names.forall(_(d.name)))
      }
    }.toMap
    val reached = mutable.Set.empty[Def]
    val work = mutable.Queue.empty[(Source, Int, Int)]
    def reach(d: Def): Unit = if (reached.add(d)) work += ((byPath(d.file), d.start, d.end))

    // Roots: whole root files, the allowlist, and whatever in a file sits
    // outside its object defs (vals, classes, top-level code).
    for (s <- srcs ++ extraRoots.flatMap(sources)) {
      val ds = parsed.get(s).map(_._2).getOrElse(Nil)
      if (!parsed.contains(s) || isRoot(s.path)) {
        work += ((s, 0, s.code.length)); ds.foreach(reached.add)
      } else {
        var at = 0
        for (d <- ds.sortBy(_.start)) { if (d.start > at) work += ((s, at, d.start)); at = d.end }
        work += ((s, at, s.code.length))
      }
    }
    allDefs.filter(d => allowed.contains(s"${d.obj}.${d.name}")).foreach(reach)

    while (work.nonEmpty) {
      val (s, from, to) = work.dequeue()
      val text = s.code.substring(from, to)
      val own = parsed.get(s).toSeq.flatMap(_._1).filter(o => o.start < to && o.end > from)
        .flatMap(o => byObj.getOrElse(o.name, Nil).filter(_.file == s.path))
      val bare = (own ++ imported.getOrElse(s, Nil)).groupBy(_.name)
      for (m <- Qualified.findAllMatchIn(text); d <- byObj.getOrElse(m.group(1), Nil)) {
        if (d.name == m.group(2)) reach(d)
      }
      for (m <- Word.findAllMatchIn(text)) {
        bare.getOrElse(m.group(1), Nil).foreach(reach)
        byObj.getOrElse(m.group(1), Nil).filter(_.implicitlyCalled).foreach(reach)
      }
    }

    allDefs.filter(d => d.checked && !reached(d)).map(d => s"${d.file}:${d.line} ${d.obj}.${d.name}")
  }
}
