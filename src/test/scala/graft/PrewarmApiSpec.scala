package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The prewarm entry points the benchmark harness (`perfbench/`) compiles
  * against, called with the exact types it uses. A rename or signature
  * change breaks `Test/compile` here rather than only the benchmark build.
  * Nothing is run: the calls sit in a function that is never applied. */
class PrewarmApiSpec extends AnyFunSuite {

  test("the benchmark's prewarm calls type-check") {
    val calls: (SparkSession, String) => Unit = { (s, d) =>
      val tasks: Seq[(String, Seq[String], () => Unit)] =
        Seq(("intradayFold", Seq.empty[String],
            () => graft.queries.BacktestQ.prewarm(s, d)),
          ("replayFold", Seq.empty[String],
            () => graft.queries.ReplayQ.prewarm(s))) ++
          graft.queries.TextQ.prewarmTasks(s, d) ++
          graft.queries.VectorQ.prewarmTasks(s, d) ++
          graft.queries.ExtQ.prewarmTasks(s, d)
      Graft.warmAll(s, tasks, poolSize = 3)
    }
    assert(calls != null)
  }
}
