package graft.queries

import org.scalatest.funsuite.AnyFunSuite

import graft.SparkEntry

/** The registry joins the per-object maps with `++`, which silently keeps
  * the last of two equal keys: a name defined in two objects would run
  * only one of its definitions. No Spark session is needed.
  */
class RegistrySpec extends AnyFunSuite {

  test("no registry name is shadowed, every query has an oracle, 325 names") {
    val maps = SparkEntry.queryMaps
    for (i <- maps.indices; j <- i + 1 until maps.size) {
      val shared = maps(i).keySet & maps(j).keySet
      assert(shared.isEmpty, s"registries $i and $j both define $shared")
    }
    assert(maps.map(_.size).sum === SparkEntry.queries.size)
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
    assert(SparkEntry.queries.size === 325)
  }
}
