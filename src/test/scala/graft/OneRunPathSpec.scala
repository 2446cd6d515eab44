package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every driver main runs its queries through [[graft.Run.once]]: the
  * noop sink, the blocking cache release and the between-query GC are
  * written nowhere else under `src/main/scala`.
  */
class OneRunPathSpec extends AnyFunSuite {

  test("noop write, blocking releaseAll and System.gc appear only in Run.scala") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"not found: ${root.toAbsolutePath}")
    val banned = Seq("format(\"noop\")", "System.gc()", "releaseAll(blocking = true)")
    val files = Files.walk(root)
    val hits =
      try files.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p.getFileName.toString != "Run.scala")
        .toList
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
