package graft

import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession builder ([[Session]]), one SparkListener
  * ([[Metrics]]), one as-of core per execution mode, one operator per
  * range-join form, no forwarding overload ladders in `graft.llm`, no
  * `(spark, dir)` table-binding twins of frame operators and four
  * environment variables in main code. Six builders with four core
  * defaults, five near-identical listeners, five as-of copies, salted
  * and auto-width twins beside the range joins, 80 table-binding twins
  * and two gate-softening env knobs grew one copy at a time; grep the
  * main source tree so a new copy fails here instead. */
class SingleSiteSpec extends AnyFunSuite {
  private val root = new java.io.File("src/main/scala")

  /** Every main-code source file. */
  private def mainSources: Seq[java.io.File] = {
    assert(root.isDirectory, "main source tree not visible from test cwd")
    def scalas(d: java.io.File): Seq[java.io.File] = {
      val kids = Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
      kids.filter(f => f.isFile && f.getName.endsWith(".scala")) ++
        kids.filter(_.isDirectory).flatMap(scalas)
    }
    scalas(root)
  }

  /** Main-code files (paths relative to [[root]]) containing any of
    * `needles`, except `allowed`. */
  private def offenders(allowed: String, needles: String*): Seq[String] = {
    mainSources
      .map(f => root.toPath.relativize(f.toPath).toString)
      .filter(_ != allowed)
      .filter { rel =>
        val src = new String(java.nio.file.Files.readAllBytes(
          root.toPath.resolve(rel)), "UTF-8")
        needles.exists(src.contains)
      }
  }

  test("graft.Session is the only SparkSession builder in main code") {
    val found = offenders("graft/Session.scala", "SparkSession.builder")
    assert(found.isEmpty, s"build sessions through graft.Session: $found")
  }

  /** Occurrences of `needle` in one main-code file. */
  private def occurrences(rel: String, needle: String): Int = {
    val src = new String(java.nio.file.Files.readAllBytes(
      root.toPath.resolve(rel)), "UTF-8")
    src.split(java.util.regex.Pattern.quote(needle), -1).length - 1
  }

  test("the streaming as-of family keeps one keyed-state driver") {
    val sites = offenders("", "flatMapGroupsWithState[AsOfBuf")
    assert(sites === Seq("graft/streaming/StreamJobs.scala"),
      s"run streaming as-of directions through StreamJobs.asOfKeyed: $sites")
    assert(occurrences(sites.head, "flatMapGroupsWithState[AsOfBuf") === 1)
  }

  test("the batch as-of family keeps one union device") {
    assert(occurrences("graft/operators/AsOf.scala",
      "lit(1).as(\"__side\")") === 1,
      "batch as-of directions must share AsOf.asOfDirection's union")
  }

  /** Names of the `def`s in one main-code source text. */
  private def defNames(src: String): Seq[String] =
    """\bdef\s+([A-Za-z_]\w*)""".r.findAllMatchIn(src).map(_.group(1)).toSeq

  test("the range-join family keeps one point and one overlap operator") {
    // a salted twin or an auto-width picker beside the operator copies
    // its validation and census; the knobs are the operator's own
    // parameters and autoPointMitigation/autoOverlapMitigation derive them
    val forks = Set("pointInIntervalSalted", "intervalOverlapSalted",
      "autoWidth", "autoWidthPoints")
    val found = mainSources.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      defNames(src).filter(forks).map(_ -> f.getName)
    }
    assert(found.isEmpty, s"fold these into the operator's defaults: $found")
    val rj = new String(java.nio.file.Files.readAllBytes(
      root.toPath.resolve("graft/operators/RangeJoin.scala")), "UTF-8")
    assert(defNames(rj).count(_ == "pointInInterval") === 1)
    assert(defNames(rj).count(_ == "intervalOverlap") === 1)
  }

  test("no forwarding *With/*At overloads in graft.llm") {
    // `fooWith`/`fooAt` beside a `foo` in the same file is a ladder of
    // entry points that only fill in defaults; default arguments on
    // the one operator say the same thing once
    val llm = mainSources.filter(_.toPath.startsWith(
      root.toPath.resolve("graft/llm")))
    assert(llm.nonEmpty, "graft.llm sources not visible from test cwd")
    val ladder = """(\w+)(?:With|At)""".r
    val ladders = llm.flatMap { f =>
      val names = defNames(new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")).toSet
      names.toSeq.collect {
        case n @ ladder(base) if names(base) => s"${f.getName}: $n beside $base"
      }
    }
    assert(ladders.isEmpty, s"fold into default arguments: $ladders")
  }

  test("no (spark, dir) forwarding twin of a frame operator") {
    // `def x(spark, dir) = xOf(Tables.t(spark, dir))` is a second entry
    // point whose only job is to pick a table; the board
    // (SparkEntry.board) binds tables, so each operator keeps its one
    // frame-level entry point. The perfbench harness calls these four.
    val harness = Set("langId", "qualityScore", "ngramJaccardPrefix",
      "dppParquet")
    val table = """(?:graft\.)?Tables\.\w+\(\s*spark\s*,\s*dir\s*\)"""
    val twin = ("""def\s+(\w+)\s*\(\s*spark\s*:\s*SparkSession\s*,""" +
      """\s*dir\s*:\s*String\s*\)\s*:\s*DataFrame\s*=\s*""" +
      """(?:\w+\.)*\w+(?:Of|From)\(\s*(?:""" + table +
      """|(?:\w+\.)*collapsedDocs\(\s*""" + table + """\s*\))\s*\)""").r
    val twins = mainSources.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      twin.findAllMatchIn(src).map(m => m.group(1) -> f.getName)
    }
    assert(twins.map(_._1).toSet.contains("langId"),
      s"the pattern no longer sees the known harness twins: $twins")
    val extra = twins.filterNot(t => harness(t._1))
    assert(extra.isEmpty, s"bind the table in SparkEntry.board instead: $extra")
  }

  test("main code reads only the four documented environment variables") {
    // a knob read from the environment is an undocumented option: it
    // changes what a run does without showing in its arguments, and a
    // gate it softens stops being a gate. Every read goes through
    // sys.env or System.getenv with a literal name.
    val read = """(?:sys\.env\s*(?:\.\s*(?:get|getOrElse|contains|apply))?|System\.getenv)\s*\(\s*"([^"]+)"""".r
    val allowed = Set("SPARK_GRAFT_CPUS", "SPARK_GRAFT_SF_DIR",
      "SPARK_GRAFT_BENCH_OUT", "SPARK_GRAFT_EXPLAIN_DIR")
    val names = mainSources.flatMap { f =>
      val src = new String(java.nio.file.Files.readAllBytes(f.toPath),
        "UTF-8")
      read.findAllMatchIn(src).map(m => m.group(1) ->
        root.toPath.relativize(f.toPath).toString)
    }
    assert(names.map(_._1).toSet.contains("SPARK_GRAFT_CPUS"),
      s"the pattern no longer sees the known reads: $names")
    val extra = names.filterNot(n => allowed(n._1))
    assert(extra.isEmpty, s"environment reads outside $allowed: $extra")
  }

  test("graft.Metrics is the only SparkListener in main code") {
    val found = offenders("graft/Metrics.scala",
      "extends SparkListener", "new SparkListener")
    assert(found.isEmpty, s"collect task metrics through graft.Metrics: $found")
  }
}
