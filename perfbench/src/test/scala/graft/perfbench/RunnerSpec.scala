package graft.perfbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class RunnerSpec extends AnyFunSuite {
  private lazy val spark = SparkSession.builder()
    .master("local[1]")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def workload(body: JobCtx => Unit): Workload = new Workload {
    val items = 1L
    def job(ctx: JobCtx): Unit = body(ctx)
  }

  test("a throwing step is recorded failed and ends the job") {
    val ctx = Runner.attempt(workload { c =>
      c.step("query", "fine")(())
      c.step("query", "throws")(throw new IllegalStateException("boom"))
      c.step("query", "never")(())
    }, new JobCtx(spark, Plain, 0))
    assert(!ctx.ok)
    assert(ctx.steps.map(s => s.name -> s.error.isDefined) ==
      Seq("fine" -> false, "throws" -> true))
    assert(ctx.steps(1).error.exists(_.contains("boom")))
    assert(ctx.errors.nonEmpty)
    // what run.py reads: the failed step carries ok = false
    assert(ctx.steps.map(_.toMap("ok")) == Seq(true, false))
  }

  test("a failed check fails its step and the job, and is not step time") {
    val ctx = Runner.attempt(workload { c =>
      c.step("query", "q1")(())
      c.check(Some(0)) { Thread.sleep(50); throw new RuntimeException("wrong rows") }
      c.check()(())
    }, new JobCtx(spark, Plain, 0))
    assert(!ctx.ok)
    assert(ctx.steps.head.error.exists(_.contains("wrong rows")))
    assert(ctx.steps.head.seconds < 0.05)
    assert(ctx.checkNs >= 50L * 1000 * 1000)
  }

  test("a traced run starts with a traced job and balances the two orders") {
    val turns = (0 until 8).map(Main.tracedTurn)
    assert(turns == Seq(true, false, false, true, true, false, false, true))
  }

  test("a job whose steps and checks pass is ok") {
    val ctx = Runner.attempt(workload { c =>
      c.step("job", "wordcount")(())
      c.check()(())
    }, new JobCtx(spark, Plain, 0))
    assert(ctx.ok && ctx.errors.isEmpty && ctx.steps.size == 1)
  }
}
