package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the driver-concurrency and scratch seams single: thread pools,
  * execution contexts, persisted-RDD registry reads and local
  * checkpoints are spelled only in `GraftSession.scala`
  * ([[GraftSession.concurrently]], [[GraftSession.localPin]]). */
class SeamGuardSpec extends AnyFunSuite {

  private val banned =
    Seq("newFixedThreadPool", "ExecutionContext.from", "getPersistentRDDs", "localCheckpoint(")

  private def sources(): Seq[Path] = {
    val walk = Files.walk(Paths.get("src/main"))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  test("thread pools, execution contexts, RDD-registry reads and local checkpoints live only in GraftSession") {
    val files = sources()
    val seam = files.filter(_.getFileName.toString == "GraftSession.scala")
    assert(seam.size == 1, "the scan must see GraftSession.scala")
    assert(files.size > 50, s"the scan saw only ${files.size} sources")
    val seamText = new String(Files.readAllBytes(seam.head), "UTF-8")
    assert(seamText.contains("newFixedThreadPool") && seamText.contains("localCheckpoint("),
      "GraftSession.scala must hold the seams the guard protects")
    val offenders = for {
      f <- files if f != seam.head
      (line, n) <- Files.readAllLines(f).asScala.zipWithIndex
      token <- banned if line.contains(token)
    } yield s"$f:${n + 1}: $token"
    assert(offenders.isEmpty, offenders.mkString("\n", "\n", ""))
  }
}
