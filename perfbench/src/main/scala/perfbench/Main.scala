package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark JVM: one workload, one closed-loop client, one result file.
  *
  * {{{
  * perfbench.Main --workload <name> --seconds <s> --trace <0|1>
  *                --in <input dir> --work <scratch dir> --out <result.json>
  *                [--entries a,b,c] [--data <table dir>]
  * }}}
  *
  * The runner (`perfbench/run.py`) generates the inputs, starts this JVM,
  * checks the outputs it reports and turns the raw samples into metrics.
  * This process only measures: it sets up the session, runs ops back to
  * back for `--seconds`, and writes every sample it took.
  */
object Main {
  final case class Args(workload: String, seconds: Double, trace: Boolean,
                        in: String, work: String, out: String,
                        entries: Seq[String], data: String)

  /** What a workload hands back: raw samples plus its output checks. */
  final class Result {
    val ops = mutable.ArrayBuffer.empty[Double]
    val tracedOps = mutable.ArrayBuffer.empty[Double]
    val passes = mutable.ArrayBuffer.empty[Double]
    var cold = 0.0
    var attempted, failed = 0L
    var storedBytes, inputBytes = 0L
    val check = mutable.LinkedHashMap.empty[String, Any]
    val layers = mutable.LinkedHashMap.empty[String, Double]
    val info = mutable.LinkedHashMap.empty[String, Any]

    /** Runs one op through `tr`; a throw counts as a failed op. A warm op's
      * time is kept as a sample, apart for traced and untraced ops.
      */
    def attempt(tr: Tracer, name: String, warm: Boolean = true)(f: => Unit): Option[Double] = {
      attempted += 1
      val traced = tr.tracing
      try {
        val s = tr.op(name)(f)
        if (warm) (if (traced) tracedOps else ops) += s
        Some(s)
      } catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"[perfbench] op $name failed: $e")
          None
      }
    }
  }

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seconds").toDouble, need("trace") == "1",
      need("in"), need("work"), need("out"),
      kv.get("entries").map(_.split(',').toSeq.filter(_.nonEmpty)).getOrElse(Nil),
      kv.getOrElse("data", ""))
  }

  /** One set-up: session with the engine's extensions, then a warm-up that
    * pays JIT, codegen and parquet-reader start-up outside every op.
    */
  def setUp(a: Args): SparkSession = {
    val spark = graft.GraftSession.builder(Runtime.getRuntime.availableProcessors.toString)
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1000000).selectExpr("sum(id)").write.mode("overwrite").format("noop").save()
    spark.range(1000).selectExpr("id % 7 as k", "cast(id as string) as v")
      .groupBy("k").count().write.mode("overwrite").format("noop").save()
    spark
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    Files.createDirectories(Paths.get(a.work))
    // Set up three times and report the median, so one slow start-up does
    // not decide the metric. The first includes JVM class loading.
    val setups = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var firstSetupSecs = 0.0
    for (i <- 0 until 3) {
      if (spark != null) spark.stop()
      val t0 = System.nanoTime()
      spark = setUp(a)
      setups += (System.nanoTime() - t0) / 1e9
      if (i == 0) firstSetupSecs = (System.currentTimeMillis() - jvmStart) / 1000.0
    }
    val tr = new Tracer(spark)
    if (a.trace) tr.install()

    val r = new Result
    a.workload match {
      case "medallion_batch" => Medallion.batch(spark, tr, a, r)
      case "medallion_daily" => Medallion.daily(spark, tr, a, r)
      case "registry_mix" => RegistryMix.run(spark, tr, a, r)
      case w => sys.error(s"unknown workload $w")
    }
    if (a.trace) Layers.collect(spark, tr, r)

    val env = mutable.LinkedHashMap[String, Any](
      "nproc" -> Runtime.getRuntime.availableProcessors,
      "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "spark_version" -> spark.version,
      "scala_version" -> scala.util.Properties.versionNumberString,
      "java_version" -> System.getProperty("java.version"))
    spark.stop()
    val out = mutable.LinkedHashMap[String, Any](
      "env" -> env,
      "setup_s" -> setups,
      "first_setup_s" -> firstSetupSecs,
      "cold_s" -> r.cold,
      "ops" -> r.ops,
      "passes" -> r.passes,
      "attempted" -> r.attempted,
      "failed" -> r.failed,
      "stored_bytes" -> r.storedBytes,
      "input_bytes" -> r.inputBytes,
      "peak_rss_mb" -> peakRssMb(),
      "check" -> r.check,
      "info" -> r.info,
      "layers" -> r.layers)
    Files.writeString(Paths.get(a.out), Json.render(out) + "\n")
  }

  /** High-water resident set of this process, from /proc. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  /** Total bytes of regular files under `dir` (0 if it does not exist). */
  def du(dir: String): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else f.length
    walk(new File(dir))
  }

  /** Files under `dir` last modified at or after `sinceMs`. */
  def filesSince(dir: String, sinceMs: Long): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles).map(_.map(walk).sum).getOrElse(0L)
      else if (f.lastModified >= sinceMs) 1L else 0L
    walk(new File(dir))
  }

  def rmrf(dir: String): Unit = {
    def walk(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles).foreach(_.foreach(walk))
      f.delete(): Unit
    }
    walk(new File(dir))
  }
}
