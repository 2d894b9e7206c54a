package graft.engine

import org.scalatest.funsuite.AnyFunSuite

import graft.TestSpark

/** `Tables.ensure` caches per session: each session gets its own entry,
  * and a second call from the same session reuses it. */
class TablesSpec extends AnyFunSuite {
  test("two sessions over the same dir each get their own tables") {
    val first = TestSpark.spark
    val second = first.newSession()
    val dir = TestSpark.sf
    val mine = Tables.ensure(first, dir)
    val theirs = Tables.ensure(second, dir)
    assert(mine.spark eq first)
    assert(theirs.spark eq second)
    assert(second.catalog.tableExists("lineitem"))
    assert(Tables.ensure(first, dir) eq mine)
    assert(Tables.ensure(second, dir) eq theirs)
  }
}
