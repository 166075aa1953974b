package graft

import scala.util.Using
import org.scalatest.funsuite.AnyFunSuite
import graft.queries.{Queries, RunCtx}

/** QueryLedger's timed loop on the smallest fixture: the row count it
  * observes inside each query's write job, the fields of its sf line,
  * and the isolation of a failing query. */
class QueryLedgerSpec extends AnyFunSuite with SparkTestBase {

  private val sf = "/root/testdata/sf0.001"

  test("the ledger's pass observes each query's rows, times it twice, and isolates a failure") {
    // a cheap query, one that persists held frames, and a name no query has
    val names = Seq("q01_pricing_agg", "q24_ann_lsh", "q00_no_such_query", "q13_dedup_exact")
    Using.resource(new RunCtx(spark, sf, verify = false)) { ctx =>
      val entries = QueryLedger.pass(ctx, names)
      assert(entries.map(_.name) == names, "the run stopped at the failing query")
      val (failed, ok) = entries.partition(_.name == "q00_no_such_query")
      assert(failed.map(e => (e.rows, e.failed)) == Seq((-1L, true)))
      ok.foreach { e =>
        assert(!e.failed, e.name)
        assert(e.rows == Queries(e.name).run(ctx).count(), s"${e.name}: observed rows")
        assert(e.rows > 0 && e.warm.value == e.rows, e.name)
      }
      val line = QueryLedger.sfJson(entries, sf, 4)
      names.foreach { n =>
        assert(raw""""$n":\{"cold_sec":\d+\.\d{3},"warm_sec":\d+\.\d{3},"cold_cpu_ms":-?\d+,"rows":-?\d+\}""".r
          .findFirstIn(line).nonEmpty, s"$n in $line")
      }
      assert(line.contains(""""failed_queries":["q00_no_such_query"]"""), line)
    }
    Queries.releaseSwapCaches()
  }
}
