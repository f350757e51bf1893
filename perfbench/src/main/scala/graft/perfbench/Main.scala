package graft.perfbench

import java.io.FileWriter
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** The benchmark JVM: builds the session, warms up, runs the workload's
  * job in a closed loop for the given time, and writes one JSON record
  * per set-up, job and span to `<work>/records.jsonl` for `run.py`.
  *
  * Arguments (all required, as `--name value`): workload, input, work,
  * seconds, trace (0|1), cpus, seed, launched-ms (wall-clock
  * time the process was launched, so the first set-up counts from
  * process start). */
object Main {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).map { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val cpus = a("cpus").toInt
    val traced = a("trace") == "1"
    Files.createDirectories(Paths.get(work))
    val rec = new Records(new FileWriter(s"$work/records.jsonl"))
    val w = Workloads(a("workload"), a("input"), work, a("seed").toLong, cpus)
    rec.emit("kind" -> "meta", "items" -> w.items, "cpus" -> cpus)

    // Set-up: process launch until the session is built and one
    // warm-up job has finished; the warm-up's output checks are not
    // set-up time.
    val spark = session(cpus, work)
    rec.emit("kind" -> "session",
      "s" -> (System.currentTimeMillis() - a("launched-ms").toLong) / 1e3)
    val warm = Runner.attempt(w, new JobCtx(spark, Plain, 0))
    val setupS = (System.currentTimeMillis() - a("launched-ms").toLong) / 1e3 -
      warm.checkNs / 1e9
    emitJob(rec, warm, "warmup")
    if (!warm.ok) {
      // a program that fails its warm-up is not measured
      rec.emit("kind" -> "end", "peak_rss_mb" -> peakRssMb())
      rec.close()
      spark.stop()
      sys.exit(3)
    }
    rec.emit("kind" -> "setup", "s" -> setupS)

    // Closed loop: one client, next job after the previous one ends.
    // The traced run mixes traced and plain jobs in the order T P P T
    // T P ..., so the tracing overhead is measured within one process
    // and neither mode always runs first after the warm-up.
    val tracer = if (traced) Some(new Tracer(spark.sparkContext)) else None
    val deadline = System.nanoTime() + (a("seconds").toDouble * 1e9).toLong
    var n = 0
    val spans = scala.collection.mutable.Buffer.empty[Seq[(String, Any)]]
    while (System.nanoTime() < deadline || (traced && n < 2)) {
      val t = tracer.filter(_ => Main.tracedTurn(n))
      val ctx = new JobCtx(spark, t.getOrElse(Plain), n + 1)
      val gc0 = gcMs()
      t.foreach(_.attach())
      Runner.attempt(w, ctx)
      spans ++= t.map(_.finish()).getOrElse(Nil).map(_.record(ctx.index))
      emitJob(rec, ctx, if (t.isDefined) "traced" else "plain",
        "gc_s" -> (gcMs() - gc0) / 1e3)
      n += 1
    }
    spans.foreach(s => rec.emit(s: _*))
    rec.emit("kind" -> "end", "peak_rss_mb" -> peakRssMb())
    rec.close()
    spark.stop()
  }

  /** Whether the n-th measured job (from 0) of a traced run is traced:
    * T P P T T P P T ..., so each mode runs first and second after the
    * other equally often. */
  def tracedTurn(n: Int): Boolean = Set(0, 3).contains(n % 4)

  private def emitJob(rec: Records, ctx: JobCtx, mode: String,
      more: (String, Any)*): Unit =
    rec.emit(Seq("kind" -> "job", "job" -> ctx.index, "mode" -> mode,
      "ok" -> ctx.ok, "errors" -> ctx.errors.toSeq,
      "steps" -> ctx.steps.map(_.toMap).toSeq,
      "extras" -> ctx.extras.toMap) ++ more: _*)

  /** The session every graft entry point builds (see `graft.Bench`),
    * with Spark's scratch space kept under the run's work directory. */
  def session(cpus: Int, work: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum

  /** VmHWM of this process, in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0)
      .getOrElse(-1.0)
}
