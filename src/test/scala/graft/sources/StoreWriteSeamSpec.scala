package graft.sources

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Keeps the store commit protocol in one place: dynamic partition
  * overwrites and staged publishes are written only by [[Maintenance]]'s
  * shard rewrite and publish helpers, so no other source file may name
  * the overwrite mode or a staging suffix. */
class StoreWriteSeamSpec extends AnyFunSuite with Matchers {

  test("only Maintenance writes dynamic overwrites and staged publishes") {
    val seam = Paths.get("src/main/scala/graft/sources/Maintenance.scala")
    val sources = scala.util.Using.resource(Files.walk(Paths.get("src/main"))) {
      _.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
    }
    sources should contain(seam)
    val offenders = for {
      file <- sources if file != seam
      (line, n) <- Files.readAllLines(file).asScala.zipWithIndex
      if line.contains("partitionOverwriteMode") || line.contains(".staged\"")
    } yield s"$file:${n + 1}: ${line.trim}"
    offenders shouldBe empty
  }
}
