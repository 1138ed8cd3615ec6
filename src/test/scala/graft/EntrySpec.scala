package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}
import org.scalatest.funsuite.AnyFunSuite

/** Contract smoke: entry() returns rows; every query runs at sf0.001 and
  * every oracle key refers to a declared query. */
class EntrySpec extends AnyFunSuite with SparkSpec {

  test("entry returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("all queries execute at sf0.001") {
    // Queries are independent: run four at a time on the shared session,
    // as Verify does, and name every query that fails.
    val pool = Executors.newFixedThreadPool(4)
    val failed = try {
      SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
        name -> pool.submit(new Callable[Unit] {
          def call(): Unit = fn(spark, sf()).write.format("noop").mode("overwrite").save()
        })
      }.flatMap { case (name, run) =>
        try { run.get(); None }
        catch { case e: ExecutionException => Some(s"$name: ${e.getCause}") }
      }
    } finally pool.shutdown()
    assert(failed.isEmpty, failed.mkString("queries failed:\n", "\n", ""))
  }

  test("oracleSql keys ⊆ queries keys") {
    val unknown = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(unknown.isEmpty, s"oracle entries without query: $unknown")
  }

  test("EVERY query carries an oracle (no silent rows-only regressions)") {
    // As of round 5 all queries are oracle-checked — model-output queries
    // via invariant oracles. A new query without an oracle entry would
    // silently downgrade the driver's check to rows-only; fail loudly.
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without an oracle: $missing")
  }
}
