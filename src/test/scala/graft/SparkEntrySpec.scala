package graft

import scala.language.reflectiveCalls

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Gates for the query registry: each module is registered once, no
  * module's key silently overwrites another's, and every oracle names a
  * declared query. `registered_keys.txt` pins the declared surface
  * (`Q <query>` and `O <oracle>` lines, sorted). */
class SparkEntrySpec extends AnyFunSuite with Matchers {

  test("module query keys are pairwise disjoint") {
    val keys = SparkEntry.modules.flatMap(_.queries.keys)
    keys.diff(keys.distinct) shouldBe empty
    val oracleKeys = SparkEntry.modules.flatMap(_.oracles.keys)
    oracleKeys.diff(oracleKeys.distinct) shouldBe empty
  }

  test("every oracle key names a query") {
    (SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet) shouldBe empty
  }

  test("the registered query and oracle keys are the pinned set") {
    val src = scala.io.Source.fromResource("graft/registered_keys.txt")
    val pinned = try src.getLines().toSeq finally src.close()
    def keysOf(tag: String) = pinned.filter(_.startsWith(s"$tag ")).map(_.drop(2))
    SparkEntry.queries.keys.toSeq.sorted shouldBe keysOf("Q")
    SparkEntry.oracleSql.keys.toSeq.sorted shouldBe keysOf("O")
    keysOf("Q") should have length 267
  }
}
