package graft

/** Driver-contract guards: the shapes the round driver depends on. */
class EntrySpec extends SparkSpec {

  test("t1 smoke: the flagship entry returns rows on sf0.001") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query carries a DuckDB oracle (no silent weakening)") {
    val q = SparkEntry.queries.keySet
    val o = SparkEntry.oracleSql.keySet
    assert(o.subsetOf(q), s"oracles without queries: ${(o -- q).toSeq.sorted}")
    // this engine keeps FULL oracle coverage — a new query must bring its
    // oracle (or consciously amend this test with the documented reason)
    assert(q == o, s"queries without oracles: ${(q -- o).toSeq.sorted}")
  }

  test("declared query names are distinct (a repeated name would shadow one)") {
    val names = SparkEntry.declared.map(_.name)
    val repeated = names.groupBy(identity).collect { case (n, ns) if ns.size > 1 => n }
    assert(repeated.isEmpty, s"repeated names: ${repeated.toSeq.sorted}")
    assert(names.size == 326)
  }

  test("query names are stable identifiers (no spaces/uppercase)") {
    SparkEntry.queries.keys.foreach { n =>
      assert(n.matches("[a-z0-9_]+"), s"bad query name: $n")
    }
  }
}
