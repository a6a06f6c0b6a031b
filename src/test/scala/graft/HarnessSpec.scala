package graft

import graft.tools.{Harness, ScaleDrill, ServeDrill}
import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source guard and codec pins for the measurement harness: every main
  * builds its session through `Harness.session`, the timer/formatter
  * helpers live only in `Harness`, and the shared floors codec reads and
  * re-writes each committed drill floors file byte for byte. */
class HarnessSpec extends AnyFunSuite {
  private def sources(root: String): List[Path] = {
    val walk = Files.walk(Paths.get(root))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("SparkSession.builder has exactly one call site in src/main, inside Harness.session") {
    val all = sources("src/main")
    assert(all.nonEmpty, "src/main not found from the test working directory")
    val sites = for {
      p <- all
      (line, i) <- Files.readString(p).linesIterator.zipWithIndex
      if line.contains("SparkSession.builder")
    } yield (p, i)
    assert(sites.size == 1, "SparkSession.builder call sites: " +
      sites.map { case (p, i) => s"$p:${i + 1}" }.mkString(", "))
    val (path, at) = sites.head
    assert(path.endsWith(Paths.get("graft", "tools", "Harness.scala")), s"in $path")
    val lines = Files.readString(path).linesIterator.toVector
    val enclosing = lines.lastIndexWhere(_.contains(" def "), at)
    assert(enclosing >= 0 && lines(enclosing).contains("def session("),
      s"line ${at + 1} is not inside session")
  }

  test("no main outside Harness defines its own time/timed/num/hygiene/median") {
    val helper = """\bdef (time|timed|num|hygiene|median)\b""".r
    val checked = sources("src/main/scala/graft/tools")
      .filterNot(_.endsWith("Harness.scala")) :+ Paths.get("src/main/scala/graft/Bench.scala")
    val defs = for {
      p <- checked
      (line, i) <- Files.readString(p).linesIterator.zipWithIndex
      if helper.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}"
    assert(defs.isEmpty, defs.mkString(", "))
  }

  test("the floors codec re-writes every committed drill floors file byte for byte") {
    val copiesField = """"copies": (\d+)""".r
    val top = {
      val ls = Files.list(Paths.get("."))
      try ls.iterator().asScala.map(_.getFileName.toString).toList.sorted
      finally ls.close()
    }
    def named(prefix: String) = top.filter(n => n.startsWith(prefix) && n.endsWith(".json"))
    assert(named("slope_floors").nonEmpty && named("serve_floors_x").nonEmpty)
    val committed = named("slope_floors").map(_ -> ScaleDrill.SlopeFloors) ++
      named("serve_floors_x").map(_ -> ServeDrill.ServeFloors)
    val tmp = Files.createTempFile("graft-floors", ".json")
    try committed.foreach { case (name, codec) =>
      val bytes = Files.readString(Paths.get(name))
      val copies = copiesField.findFirstMatchIn(bytes).get.group(1).toInt
      val families = codec.read(name, copies)
      assert(families.nonEmpty, name)
      assert(codec.read(name, copies + 1).isEmpty, s"$name read at another copies factor")
      codec.write(tmp.toString, copies, families)
      assert(Files.readString(tmp) == bytes, name)
    } finally Files.delete(tmp)
  }

  test("num formats with '.' under a comma-decimal default locale") {
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    try {
      assert(String.format("%.3f", Double.box(1.5)) == "1,500") // the hazard
      assert(Harness.num(1.5) == "1.500")
      assert(Harness.num("%.4f", 0.25) == "0.2500")
    } finally java.util.Locale.setDefault(saved)
  }
}
