package graft

import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** The per-query job split Bench writes into bench_out.json's
  * "ledger": one tutorial query, measured the way Bench measures it.
  */
class MetricsLedgerSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  test("ledger counts jobs and a job wall within the run's wall; repeat runs agree on jobs") {
    Using.resource(new MetricsLedger(spark.sparkContext)) { ledger =>
      // t1 reads the in-memory tutorial fixture, so it takes no data dir
      def run(): (Double, MetricsLedger.Counts) = ledger.measure {
        val t0 = System.nanoTime()
        SparkEntry.queries("t1_reporting_dim")(spark, "")
          .write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }
      run() // warmup, as Bench runs one: the session cache builds here
      val (wall, a) = run()
      val (_, b) = run()
      info(s"wall=$wall ledger=${a.json}")
      assert(a.jobs >= 1, a.json)
      assert(a.jobWallS >= 0.0 && a.jobWallS <= wall, s"wall=$wall ${a.json}")
      assert(a.jobs == b.jobs, s"${a.json} vs ${b.json}")
    }
  }
}
