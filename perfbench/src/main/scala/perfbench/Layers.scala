package perfbench

import org.apache.spark.sql.SparkSession

/** Turns the tracer's spans and counters into the per-layer metrics.
  * Everything is per traced op (mean), except where noted: state size and
  * cache size are maxima, `queries.*` and `build.*` are set by the
  * registry mix itself.
  */
object Layers {
  def add(r: Main.Result, name: String, v: Double): Unit =
    r.layers(name) = r.layers.getOrElse(name, 0.0) + v

  def max(r: Main.Result, name: String, v: Double): Unit =
    r.layers(name) = math.max(r.layers.getOrElse(name, 0.0), v)

  /** Cached bytes right now, through the public storage-info API. */
  def sampleCache(spark: SparkSession, r: Main.Result): Unit = {
    val infos = spark.sparkContext.getRDDStorageInfo
    max(r, "cache.stored_bytes", infos.map(i => i.memSize + i.diskSize).sum.toDouble)
    max(r, "cache.storage_memory_bytes", infos.map(_.memSize).sum.toDouble)
  }

  val streamKeys: Seq[(String, String)] = Seq(
    "planning_ms" -> "queryPlanning", "add_batch_ms" -> "addBatch",
    "wal_commit_ms" -> "walCommit", "commit_offsets_ms" -> "commitOffsets",
    "latest_offset_ms" -> "latestOffset", "trigger_ms" -> "triggerExecution")

  def collect(spark: SparkSession, tr: Tracer, r: Main.Result): Unit = {
    val n = math.max(1L, tr.tracedOps).toDouble
    val t = tr.total
    val per = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    for (s <- Seq("pipeline.bronze", "pipeline.silver", "pipeline.gold", "pipeline.run_acordos",
                  "io.sink_acordos", "io.sink_hier", "io.sink_pais", "io.sink_org"))
      per(s + "_s") = tr.spanSecs.getOrElse(s, 0.0)
    per("io.files_written") = r.layers.getOrElse("io.files_written", 0.0)
    per("io.output_bytes") = t.outputBytes.toDouble
    per("io.input_bytes") = t.inputBytes.toDouble
    per("io.input_records") = t.inputRecords.toDouble
    for (layer <- Seq("bronze", "silver", "gold"); (name, key) <- streamKeys)
      per(s"stream.$layer.$name") = tr.streamMs((layer, key)).toDouble
    per("driver.analysis_s") = tr.phaseMs("analysis") / 1000.0
    per("driver.optimizer_s") = tr.phaseMs("optimization") / 1000.0
    per("driver.planning_s") = tr.phaseMs("planning") / 1000.0
    per("driver.executions") = tr.executions.toDouble
    per("driver.codegen_compiles") = tr.codegenCompiles.toDouble
    per("sched.jobs") = t.jobs.toDouble
    per("sched.stages") = t.stages.toDouble
    per("sched.tasks") = t.tasks.toDouble
    per("sched.no_job_s") = tr.noJobSecs
    per("sched.failed_tasks") = t.failedTasks.toDouble
    per("sched.stage_retries") = t.stageRetries.toDouble
    per("exec.run_s") = t.runMs / 1000.0
    per("exec.cpu_s") = t.cpuNs / 1e9
    per("exec.gc_s") = t.gcMs / 1000.0
    per("exec.deser_s") = t.deserMs / 1000.0
    per("shuffle.write_bytes") = t.shuffleWriteBytes.toDouble
    per("shuffle.write_records") = t.shuffleWriteRecords.toDouble
    per("shuffle.read_bytes") = t.shuffleReadBytes.toDouble
    per("shuffle.fetch_wait_s") = t.fetchWaitMs / 1000.0
    per("spill.memory_bytes") = t.spillMemory.toDouble
    per("spill.disk_bytes") = t.spillDisk.toDouble
    per.foreach { case (k, v) => r.layers(k) = v / n }

    r.layers("exec.cpu_per_run") = if (t.runMs > 0) t.cpuNs / 1e6 / t.runMs else 0.0
    r.layers("stream.silver.state_rows") = tr.stateRows.toDouble
    r.layers("stream.silver.state_bytes") = tr.stateBytes.toDouble
    r.layers.getOrElseUpdate("cache.stored_bytes", 0.0)
    r.layers.getOrElseUpdate("cache.storage_memory_bytes", 0.0)
    r.layers("trace.overhead_share") =
      if (r.tracedOps.isEmpty || r.ops.isEmpty) 0.0
      else Stats.median(r.tracedOps.toSeq) / Stats.median(r.ops.toSeq) - 1.0
    r.layers("trace.ops") = tr.tracedOps.toDouble

    // per-span breakdown, for the trace file
    r.info("spans") = tr.counters.toSeq.sortBy(_._1).map { case (s, c) =>
      s -> Map("wall_s" -> tr.spanSecs.getOrElse(s, 0.0), "calls" -> tr.spanCalls.getOrElse(s, 0L),
        "jobs" -> c.jobs, "stages" -> c.stages, "tasks" -> c.tasks,
        "run_s" -> c.runMs / 1000.0, "cpu_s" -> c.cpuNs / 1e9,
        "shuffle_write_bytes" -> c.shuffleWriteBytes, "output_bytes" -> c.outputBytes)
    }.toMap
  }
}
