package graft

import org.scalatest.funsuite.AnyFunSuite

/** The query inventory's bookkeeping, checked without a Spark session:
  * names, oracle coverage, the bench breakdown's parents and phase names,
  * and the `SPARK_GRAFT_ONLY` filter Bench and Verify share.
  */
class InventorySpec extends AnyFunSuite {

  private val names = SparkEntry.queries.keys.toSeq
  private def prefix(name: String) = name.split("_")(0)

  test("194 unique query names, one per qNN prefix") {
    assert(names.size == 194)
    assert(names.distinct.size == names.size)
    val malformed = names.filterNot(_.matches("q[0-9]+_[a-z0-9_]+"))
    assert(malformed.isEmpty, malformed)
    assert(names.map(prefix).distinct.size == names.size)
  }

  test("every oracle names a query; exactly the six no_oracle queries lack one") {
    val oracled = SparkEntry.oracleSql.keySet
    assert(oracled.subsetOf(SparkEntry.queries.keySet), oracled -- SparkEntry.queries.keySet)
    assert((SparkEntry.queries.keySet -- oracled).map(prefix) ==
      Set("q36", "q38", "q39", "q41", "q43", "q75"))
  }

  test("breakdown rows: 37 unique phases, each under its parent query's qNN prefix") {
    val rows = SparkEntry.benchBreakdown
    assert(rows.size == 37)
    assert(rows.map(_._2).distinct.size == rows.size)
    rows.foreach { case (parent, phase, _) =>
      assert(SparkEntry.queries.contains(parent), parent)
      assert(phase.startsWith(prefix(parent) + "_"), s"$phase under $parent")
    }
  }

  test("selected: unset runs the whole inventory in order") {
    assert(SparkEntry.selected(None).keys.toSeq == names)
  }

  test("selected: entries are trimmed and kept in inventory order") {
    assert(SparkEntry.selected(Some(" q02_filter,q01_aggregate , ,")).keys.toSeq ==
      Seq("q01_aggregate", "q02_filter"))
  }

  test("selected: an unknown or empty name list fails loudly") {
    val unknown = intercept[IllegalArgumentException] {
      SparkEntry.selected(Some("q01_aggregate,q02_filtr"))
    }
    assert(unknown.getMessage.contains("q02_filtr"))
    intercept[IllegalArgumentException](SparkEntry.selected(Some(" , ")))
  }

  test("scratchDir: /tmp/graft_<tag>_<sf-dir basename>, the paths the oracle SQL reads") {
    assert(SparkEntry.scratchDir("q143_nb", "/data/sf0.01") == "/tmp/graft_q143_nb_sf0.01")
    assert(SparkEntry.scratchDir("q62_features", "/data/sf0.01/") == "/tmp/graft_q62_features_sf0.01")
    val sql = SparkEntry.oracleSql.values.mkString("\n")
    Seq("q62_features", "q87_features", "q143_nb", "q146_clsindex", "q172_mc", "jsonl_roundtrip")
      .foreach(tag => assert(sql.contains(s"/tmp/graft_${tag}_sf0.01"), tag))
  }
}
