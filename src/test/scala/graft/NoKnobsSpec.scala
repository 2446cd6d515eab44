package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** The engine reads no `spark.graft.*` session key and no `GRAFT_DEBUG*`
  * environment switch: plan gates are constants in [[graft.plans.Gates]],
  * and optimizer rules are switched off through Spark's own
  * `spark.sql.optimizer.excludedRules`.
  */
class NoKnobsSpec extends AnyFunSuite {

  test("no spark.graft.* key literal or GRAFT_DEBUG switch under src/main/scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"not found: ${root.toAbsolutePath}")
    val banned = Seq("\"spark.graft.", "GRAFT_DEBUG")
    val files = Files.walk(root)
    val hits =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if banned.exists(line.contains) =>
              s"$p:${i + 1}: ${line.trim}"
          }
        }
      finally files.close()
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
