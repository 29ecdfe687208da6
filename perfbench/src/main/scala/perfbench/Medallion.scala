package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.io.Sinks
import graft.pipeline.{Bronze, Gold, IncrementalMedallion, Schemas, Silver}

/** The acordos medallion, run the two ways the paper's job runs. */
object Medallion {
  val rawSchema: StructType = StructType(Schemas.rawHeaders.map(StructField(_, StringType)))
  val outputs: Seq[String] = Seq("acordos", "hier", "pais", "org")

  /** `medallion_batch`: each op is one full refresh of the landing data,
    * bronze → silver → gold with all four sinks committed, as
    * `PipelineDemo` does it. Inputs: `<in>/landing/` (written by the runner).
    */
  def batch(spark: SparkSession, tr: Tracer, a: Main.Args, r: Main.Result): Unit = {
    val landing = s"${a.in}/landing"
    val out = s"${a.work}/gold"
    r.inputBytes = Main.du(landing)

    def refresh(): Unit = {
      val raw = spark.read.schema(rawSchema).parquet(landing)
      val bronze = tr.span("pipeline.bronze")(Bronze.transform(raw))
      val silver = tr.span("pipeline.silver")(Silver.transform(bronze))
      val gold = tr.span("pipeline.gold")(Gold.transform(silver))
      val t0Ms = System.currentTimeMillis()
      tr.span("io.sink_acordos")(Sinks.writeParquet(gold.acordos, s"$out/gld_acordos", Seq("ano")))
      tr.span("io.sink_hier")(Sinks.writeParquet(gold.hier, s"$out/gld_hier"))
      tr.span("io.sink_pais")(Sinks.writeParquet(gold.pais, s"$out/gld_pais"))
      tr.span("io.sink_org")(Sinks.writeParquet(gold.org, s"$out/gld_org"))
      if (tr.tracing) {
        Layers.sampleCache(spark, r)
        Layers.add(r, "io.files_written", Main.filesSince(out, t0Ms).toDouble)
      }
      // the next refresh must not find this one's derived frame cached
      Gold.derive(silver).unpersist(blocking = true)
    }

    r.attempt(tr, "refresh", warm = false)(refresh()).foreach(r.cold = _)
    Loop.run(tr, a, r, minUnits = 2)(() => r.attempt(tr, "refresh")(refresh())).foreach(r.passes += _)

    r.storedBytes = Main.du(out)
    outputs.foreach { o =>
      r.check(s"gld_$o") = spark.read.parquet(s"$out/gld_$o").count()
    }
    r.check("cached_rdds_after_unpersist") = spark.sparkContext.getRDDStorageInfo.length
  }

  /** `medallion_daily`: each op lands one day's file and runs
    * `IncrementalMedallion.runAcordos` once. A pass runs every day file
    * in `<in>/days/` in order from an empty root, so day k of every pass
    * sees the same state size.
    */
  def daily(spark: SparkSession, tr: Tracer, a: Main.Args, r: Main.Result): Unit = {
    val days = Option(new java.io.File(s"${a.in}/days").listFiles).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet")).map(_.getPath).sorted.toSeq
    require(days.nonEmpty, s"no day files under ${a.in}/days")
    r.inputBytes = days.map(d => Files.size(Paths.get(d))).sum
    var passNo = 0
    var lastRoot = ""

    def pass(timeFirstDayAsCold: Boolean): Option[Double] = {
      val root = s"${a.work}/daily-$passNo"
      passNo += 1
      if (lastRoot.nonEmpty) Main.rmrf(lastRoot)
      lastRoot = root
      val dirs = IncrementalMedallion.Dirs(root)
      Files.createDirectories(Paths.get(dirs.landing))
      var total = 0.0
      var ok = true
      days.zipWithIndex.foreach { case (d, k) =>
        // land atomically: the file source skips names starting with "_"
        val name = Paths.get(d).getFileName.toString
        val tmp = Paths.get(dirs.landing, "_" + name)
        Files.copy(Paths.get(d), tmp)
        Files.move(tmp, Paths.get(dirs.landing, name), StandardCopyOption.ATOMIC_MOVE)
        val t0Ms = System.currentTimeMillis()
        val cold = k == 0 && timeFirstDayAsCold
        r.attempt(tr, "pipeline.run_acordos", warm = !cold) {
          IncrementalMedallion.runAcordos(spark, dirs, rawSchema)
        } match {
          case Some(s) =>
            total += s
            if (cold) r.cold = s
            if (tr.tracing) Layers.add(r, "io.files_written", Main.filesSince(root, t0Ms).toDouble)
          case None => ok = false
        }
      }
      if (ok) Some(total) else None
    }

    Loop.run(tr, a, r, minUnits = 1)(() => pass(timeFirstDayAsCold = passNo == 0)).foreach(r.passes += _)

    // stored bytes: every output, state and checkpoint dir of the last pass
    r.storedBytes = Main.du(lastRoot) - Main.du(s"$lastRoot/landing")
    r.info("days_per_pass") = days.size
    check(spark, IncrementalMedallion.Dirs(lastRoot), r)
  }

  /** The incremental twin property: after the last day, each gold output
    * equals (as a multiset, by content digest) one batch run over every row
    * landed so far.
    */
  private def check(spark: SparkSession, dirs: IncrementalMedallion.Dirs, r: Main.Result): Unit = {
    val all = spark.read.schema(rawSchema).parquet(dirs.landing)
    val want = Gold.transform(Silver.transform(Bronze.transform(all)), persist = false)
    val wants = Map[String, DataFrame]("acordos" -> want.acordos, "hier" -> want.hier,
      "pais" -> want.pais, "org" -> want.org)
    outputs.foreach { o =>
      val got = IncrementalMedallion.readFanOut(spark, dirs.gold(o))
        .select(wants(o).columns.map(org.apache.spark.sql.functions.col).toSeq: _*)
      r.check(s"gld_$o") = got.count()
      r.check(s"gld_${o}_equals_batch") = Content.hash(got) == Content.hash(wants(o))
    }
  }
}

/** The measured loop shared by the workloads: run whole units (a refresh,
  * a pass of days, a pass over the entry list) until `--seconds` have gone
  * by and at least `minUnits` units have run. A traced run alternates
  * untraced and traced units after one untraced warm-up unit whose ops it
  * drops, so the tracing overhead is measured inside the run on equally
  * warm units; per-layer numbers come only from the traced units. Returns
  * the untraced units' times.
  */
object Loop {
  def run(tr: Tracer, a: Main.Args, r: Main.Result, minUnits: Int)
         (unit: () => Option[Double]): Seq[Double] = {
    val plain = scala.collection.mutable.ArrayBuffer.empty[Double]
    val t0 = System.nanoTime()
    var i = 0
    def elapsed = (System.nanoTime() - t0) / 1e9
    def enough = i >= (if (a.trace) 3 else minUnits)
    while (elapsed < a.seconds || !enough) {
      val traced = a.trace && i % 2 == 1
      if (traced) tr.start()
      val s = unit()
      if (traced) tr.stop() else s.foreach(plain += _)
      if (a.trace && i == 0) r.ops.clear()
      i += 1
    }
    plain.toSeq
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
