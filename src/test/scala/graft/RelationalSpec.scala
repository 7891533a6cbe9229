package graft

import org.apache.spark.sql.functions._

/** One spec per relational operator (SURVEY.md §2.2 surface): every query
  * runs and returns rows; exact-value assertions where the invariant is
  * data-independent. Full value-level correctness is covered by the
  * DuckDB-oracle gate (tools/check_oracle.py). */
class RelationalSpec extends SparkSpec {

  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  for (q <- SparkEntry.queries.keys.toSeq.sorted) {
    test(s"$q runs and returns rows") {
      assert(run(q).count() > 0, s"$q returned no rows")
    }
  }

  test("NamedQuery.inParallel fails fast: the first failure is rethrown " +
      "at once and its still-running siblings are cancelled") {
    val interrupted = new java.util.concurrent.CountDownLatch(1)
    val started = System.nanoTime()
    val err = intercept[IllegalStateException](
      operators.NamedQuery.inParallel(
        () => try Thread.sleep(60000L) catch {
          case _: InterruptedException => interrupted.countDown()
        },
        () => throw new IllegalStateException("second task failed")))
    assert(err.getMessage == "second task failed")
    assert(interrupted.await(10, java.util.concurrent.TimeUnit.SECONDS),
      "the running sibling was not cancelled")
    assert(System.nanoTime() - started < 30L * 1000000000L)
    // and a run without failure returns after every task completed
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    operators.NamedQuery.inParallel((1 to 3).map(i => () => {
      Thread.sleep(20L * i); done.incrementAndGet(); ()
    }): _*)
    assert(done.get == 3)
  }

  test("q01_scan returns all 5 regions") {
    assert(run("q01_scan").count() == 5)
  }

  test("q08_distinct yields unique pairs") {
    val d = run("q08_distinct")
    assert(d.count() == d.distinct().count())
  }

  test("q10_orderby_limit is sorted descending") {
    val prices = run("q10_orderby_limit")
      .collect().map(_.getDouble(1))
    assert(prices.sameElements(prices.sortBy(-(_: Double))))
  }

  test("q11_offset returns keys 101..120 of the ordered stream") {
    val all = Tables.t(spark, sf, "orders").select("o_orderkey")
      .orderBy("o_orderkey").collect().map(_.getLong(0))
    val got = run("q11_offset").collect().map(_.getLong(0))
    assert(got.sameElements(all.slice(100, 120)))
  }

  test("q14 semi + q15 anti partition the customer table") {
    val n = Tables.t(spark, sf, "customer").count()
    assert(run("q14_join_semi").count() + run("q15_join_anti").count() == n)
  }

  test("q16_cross_join is |region| x |nation|") {
    assert(run("q16_cross_join").count() == 5 * 25)
  }

  test("q17_window_rank keeps at most 3 rows per customer") {
    val m = run("q17_window_rank").groupBy("o_custkey")
      .agg(count(lit(1)).as("n")).agg(max("n")).head().getLong(0)
    assert(m <= 3)
  }

  test("q29_range sums to n(n-1)/2 overall") {
    val total = run("q29_range").agg(sum("s")).head().getLong(0)
    assert(total == 100000L * 99999L / 2)
  }

  test("entry flagship query returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
    assert(SparkEntry.benchQueries.toSet.subsetOf(SparkEntry.queries.keySet))
  }
}
