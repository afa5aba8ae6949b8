package graft

import scala.util.control.NonFatal

/** t1-smoke mirror + registry invariants. */
class EntrySpec extends SparkSpec {

  test("entry returns rows on sf0.001 (driver smoke)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("registry names are unique") {
    val names = Registry.all.map(_.name)
    assert(names.distinct.size === names.size)
  }

  test("every query in the registry runs on sf0.001") {
    // Every entry runs under the Registry contract (caches cleared
    // after each), and one failing entry does not hide the rest.
    val failures = Registry.all.flatMap { q =>
      try {
        GraftSession.runEntry(spark, q.fn, sf)(_.count())
        None
      } catch { case NonFatal(e) => Some(s"${q.name}: $e") }
    }
    if (failures.nonEmpty)
      fail(s"${failures.size} entries failed:\n${failures.mkString("\n")}")
  }

  test("oracle coverage: every query has oracle SQL") {
    val missing = Registry.all.filter(_.oracle.isEmpty).map(_.name)
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }
}
