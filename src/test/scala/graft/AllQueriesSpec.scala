package graft

/** Every registry query must run at sf0.001 and return identical rows
  * (values AND order) across two executions — catching any
  * partition-order-dependent computation (float summation order,
  * non-total orderings) that the single-shot oracle compare could miss
  * — and, outside the dedup family, at least one row.
  */
class AllQueriesSpec extends GraftSpec {

  SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
    test(s"$name runs twice identically at sf0.001") {
      val a = fn(spark, sfDir).collect().map(_.toString).toSeq
      val b = fn(spark, sfDir).collect().map(_.toString).toSeq
      assert(a == b)
      assert(a.nonEmpty || name.startsWith("dedup"),
        s"$name returned no rows")
    }
  }

  test("flagship entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
