package graft

import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession builder ([[Session]]), one SparkListener
  * ([[Metrics]]) and one as-of core per execution mode in main code.
  * Six builders with four core defaults, five near-identical listeners
  * and five as-of copies grew one copy at a time; grep the main
  * source tree so a new copy fails here instead. */
class SingleSiteSpec extends AnyFunSuite {
  private val root = new java.io.File("src/main/scala")

  /** Main-code files (paths relative to [[root]]) containing any of
    * `needles`, except `allowed`. */
  private def offenders(allowed: String, needles: String*): Seq[String] = {
    assert(root.isDirectory, "main source tree not visible from test cwd")
    def scalas(d: java.io.File): Seq[java.io.File] = {
      val kids = Option(d.listFiles()).map(_.toSeq).getOrElse(Nil)
      kids.filter(f => f.isFile && f.getName.endsWith(".scala")) ++
        kids.filter(_.isDirectory).flatMap(scalas)
    }
    scalas(root)
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

  test("graft.Metrics is the only SparkListener in main code") {
    val found = offenders("graft/Metrics.scala",
      "extends SparkListener", "new SparkListener")
    assert(found.isEmpty, s"collect task metrics through graft.Metrics: $found")
  }
}
