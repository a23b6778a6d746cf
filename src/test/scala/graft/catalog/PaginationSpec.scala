package graft.catalog

import org.scalatest.funsuite.AnyFunSuite
import graft.TestSpark

class PaginationSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._
  import org.apache.spark.sql.functions.expr

  test("pageCount math (root.go:373-381): ceil, and ≥1 page always") {
    assert(Pagination.pageCount(0, 100) == 1)
    assert(Pagination.pageCount(1, 100) == 1)
    assert(Pagination.pageCount(100, 100) == 1)
    assert(Pagination.pageCount(101, 100) == 2)
    assert(Pagination.pageCount(250, 100) == 3)
  }

  test("keysetPredicates cover every key exactly once, open at both ends") {
    val tagged = Pagination.keysetPredicates(Seq("a", "b"),
      Seq(Seq("1", "2"), Seq("1", "5"), Seq("3", "0")))
    // every page predicate carries the kill marker (root.go:394)
    assert(tagged.forall(_.startsWith(Pagination.SqlTag)))
    assert(tagged.length == 4)
    // every (a, b) on a grid wider than the bounds matched by exactly one
    // page — including keys below the first and above the last bound
    val grid = (for (a <- -1 to 5; b <- -1 to 6) yield (a, b)).toDF("a", "b")
    val hits = tagged.map(p => grid.filter(expr(p.stripPrefix(Pagination.SqlTag)))
      .as[(Int, Int)].collect().toSet)
    assert(hits.map(_.size).sum == grid.count())
    assert(hits.reduce(_ ++ _).size == grid.count())
    assert(hits(0).contains((1, 2)) && !hits(0).contains((1, 3)))
    assert(hits(3).contains((3, 1)) && hits(3).contains((5, 6)) && hits(0).contains((-1, -1)))
  }

  test("deferredJoinPage returns exactly rows [offset, offset+n) in PK order") {
    val df = (1 to 57).map(i => (i.toLong, s"v$i")).toDF("id", "v")
    val page = Pagination.deferredJoinPage(df, Seq("id"), 20, 10)
      .orderBy("id").select("id").as[Long].collect()
    assert(page.toSeq == (21L to 30L))
    // final partial page
    val tail = Pagination.deferredJoinPage(df, Seq("id"), 50, 10)
      .orderBy("id").select("id").as[Long].collect()
    assert(tail.toSeq == (51L to 57L))
  }
}
