package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.SparkSession

/** Runs one workload of the benchmark inside one JVM and writes the raw
  * record (set-up times, every operation's wall time and observed outputs,
  * spans, failed tasks) as JSON. `run.py` turns the record into metrics
  * and checks the observations against the answer and golden files.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *   --input DIR --work DIR --out FILE [--queries Q1,Q2,...]
  */
object Main {

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).map(a => a(0).stripPrefix("--") -> a(1)).toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val traced = args("trace") == "1"
    val work = args("work")
    val wl: Workload = workload match {
      case "etl_pipeline" =>
        new Workloads.Etl(args("input"), s"$work/out")
      case "query_mix" =>
        new Workloads.QueryMix(args("input"), args("queries").split(",").toSeq, seed)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }

    val listener = new BenchListener
    def session(): SparkSession = {
      val b = SparkSession.builder()
        .master("local[4]")
        .appName("perfbench")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
      val spark =
        (if (wl.extensions) b.config("spark.sql.extensions", "graft.extensions.GraftExtensions")
         else b).getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      spark.sparkContext.addSparkListener(listener)
      spark
    }

    // set-up runs once: each run of the benchmark pays one cold JVM, and a
    // repeated set-up would cost another warm-up pass per run
    val t0 = Clock.now()
    val spark = session()
    wl.setUp(spark)
    val setupS = Clock.now() - t0

    val tracer = if (traced) Some(new Tracer(spark.sparkContext, listener)) else None
    val ops = mutable.Buffer[Map[String, Any]]()
    val observed = mutable.Buffer[Map[String, Any]]()
    def runOp(name: String, round: Int, t: Option[Tracer]): Unit = {
      t.foreach(_.newTrace())
      org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
      listener.startOp()
      val j0 = Clock.jitCpu()
      val c0 = Clock.cpu()
      val d0 = Clock.threadCpu()
      val t0 = Clock.now()
      val result = scala.util.Try(wl.op(spark, name, t))
      val wall = Clock.now() - t0
      val driverCpu = Clock.threadCpu() - d0
      val cpu = Clock.cpu() - c0
      val jit = Clock.jitCpu() - j0
      org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)
      ops += Map("name" -> name, "round" -> round, "wall_s" -> wall, "cpu_s" -> cpu, "jit_cpu_s" -> jit,
        "driver_cpu_s" -> driverCpu, "task_cpu_s" -> listener.opTaskCpuS,
        "cache_bytes" -> listener.opCacheBytes,
        "traced" -> t.nonEmpty, "ok" -> result.isSuccess,
        "error" -> result.failed.toOption.map(e => s"${e.getClass.getName}: ${e.getMessage}").orNull)
      result.foreach(observe => observed += observe())
    }
    // closed loop, one client, a fixed number of whole passes: as many as
    // fill `seconds` at the workload's nominal pass length, so both sides of
    // a comparison time the same operations at the same point of the JIT's
    // warm-up. The traced run pairs each operation with an untraced twin,
    // alternating which runs first, to measure the tracing overhead.
    val passes = math.max(1, math.round(seconds / wl.passSeconds).toInt)
    var n = 0
    for (round <- 0 until passes) {
      wl.pass(round).foreach { name =>
        val order = if (tracer.isEmpty) Seq(None) else if (n % 2 == 0) Seq(None, tracer) else Seq(tracer, None)
        order.foreach(t => runOp(name, round, t))
        n += 1
      }
    }
    org.apache.spark.PerfbenchBridge.drain(spark.sparkContext)

    val record = Map(
      "setup_s" -> setupS,
      "ops" -> ops.toSeq,
      "observed" -> observed.toSeq,
      "checked" -> (wl match { case q: Workloads.QueryMix => q.checked; case _ => Nil }),
      "failed_tasks" -> listener.failedTasks,
      "spans" -> tracer.toSeq.flatMap(_.spans.map(_.toJson)))
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.writeString(Paths.get(args("out")), json.writeValueAsString(record))
    spark.stop()
  }
}
