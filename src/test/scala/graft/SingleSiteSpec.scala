package graft

import org.scalatest.funsuite.AnyFunSuite

/** One SparkSession builder ([[Session]]) and one SparkListener
  * ([[Metrics]]) in main code. Six builders with four core defaults
  * and five near-identical listeners grew one copy at a time; grep the
  * main source tree so a new copy fails here instead. */
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

  test("graft.Metrics is the only SparkListener in main code") {
    val found = offenders("graft/Metrics.scala",
      "extends SparkListener", "new SparkListener")
    assert(found.isEmpty, s"collect task metrics through graft.Metrics: $found")
  }
}
