package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source guard for the micro-batch sink seam: every streaming twin in
  * `src/main` starts through `Streams.eachBatch`, which owns the one
  * `foreachBatch` call and with it the `batch_id=<id>` byte-replace
  * contract. A new twin that wires `foreachBatch` by hand fails here. */
class SinkSeamSpec extends AnyFunSuite {
  test("foreachBatch has exactly one call site in src/main, inside Streams.eachBatch") {
    import java.nio.file.{Files, Path, Paths}
    val walk = Files.walk(Paths.get("src/main"))
    val sources: List[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(sources.nonEmpty, "src/main not found from the test working directory")
    val sites = for {
      p <- sources
      (line, i) <- Files.readString(p).linesIterator.zipWithIndex
      if line.contains(".foreachBatch")
    } yield (p, i)
    val nSites = sites.size
    assert(nSites == 1, "foreachBatch call sites: " +
      sites.map { case (p, i) => s"$p:${i + 1}" }.mkString(", "))
    val (path, at) = sites.head
    assert(path.endsWith(Paths.get("graft", "streaming", "Streams.scala")), s"in $path")
    val lines = Files.readString(path).linesIterator.toVector
    val enclosing = lines.lastIndexWhere(_.contains(" def "), at)
    assert(enclosing >= 0 && lines(enclosing).contains("def eachBatch("),
      s"line ${at + 1} is not inside eachBatch")
  }
}
