package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `registry_mix`: a pinned list of `SparkEntry.queries` entries over one
  * read-only table directory. Each warm op is one noop-sink execution of
  * one entry. The cold pass before them includes every first-touch build,
  * so no warm op contains one; an untimed pass then lets the JIT settle
  * before the timed passes. In a traced run each build the list touched
  * is timed again through its `BuildRebuild` hook.
  */
object RegistryMix {
  def noop(df: DataFrame): Unit = df.write.mode("overwrite").format("noop").save()

  def run(spark: SparkSession, tr: Tracer, a: Main.Args, r: Main.Result): Unit = {
    val registry = graft.SparkEntry.queries
    val missing = a.entries.filterNot(registry.contains)
    require(missing.isEmpty, s"unknown registry entries: ${missing.mkString(",")}")
    val entries = a.entries.map(e => e -> registry(e))
    r.inputBytes = Main.du(a.data)

    // Cold pass: each entry's first execution, with every build it touches
    // first. It computes the entry's content digest (forcing every column,
    // as the noop sink does); the runner compares digests after the run.
    val buildsBefore = graft.BuildTimes.times.toMap
    val coldEach = mutable.LinkedHashMap.empty[String, Double]
    entries.foreach { case (e, q) =>
      r.attempt(tr, s"queries.$e", warm = false) {
        val (rows, h) = Content.hash(q(spark, a.data))
        r.check(e) = Map("rows" -> rows, "hash" -> h.toString)
      }.foreach(coldEach(e) = _)
    }
    r.cold = coldEach.values.sum
    val builds = graft.BuildTimes.times.toMap.map { case (k, v) => k -> (v - buildsBefore.getOrElse(k, 0.0)) }
      .filter(_._2 > 0)
    val touched = builds.keys.toSeq.sorted
    r.info("cold_entry_s") = coldEach
    r.info("cold_build_s") = builds

    // One untimed pass: during each entry's second execution the JIT is
    // still compiling its code paths (that pass runs ~10-15% slower than
    // later ones), and how far it has got depends on the host's speed.
    val b0 = graft.BuildTimes.total
    entries.foreach { case (e, q) => r.attempt(tr, s"queries.$e", warm = false)(noop(q(spark, a.data))) }

    val traced = mutable.Map.empty[String, mutable.ArrayBuffer[Double]]
    val timed = mutable.ArrayBuffer.empty[Map[String, Double]]
    // three timed passes, so each entry's median drops one pass that the
    // host slowed down
    Loop.run(tr, a, r, minUnits = 3) { () =>
      var total = 0.0
      val pass = mutable.Map.empty[String, Double]
      entries.foreach { case (e, q) =>
        r.attempt(tr, s"queries.$e")(noop(q(spark, a.data))).foreach { s =>
          total += s
          pass(e) = s
          if (tr.tracing) traced.getOrElseUpdate(e, mutable.ArrayBuffer.empty) += s
        }
      }
      if (!tr.tracing) timed += pass.toMap
      if (pass.size == entries.size) Some(total) else None
    }.foreach(r.passes += _)
    // a traced run drops the ops of its first (warm-up) unit; so does this
    val kept = if (a.trace) timed.drop(1) else timed
    r.info("warm_entry_s") = mutable.LinkedHashMap(entries.map { case (e, _) => e -> kept.flatMap(_.get(e)).toSeq }: _*)
    // a warm timing that contains a build would mix the two; fail the check
    r.check("warm_build_s") = graft.BuildTimes.total - b0

    if (a.trace) {
      traced.foreach { case (e, xs) => r.layers(s"queries.${e}_s") = Stats.median(xs.toSeq) }
      touched.foreach { b =>
        graft.BuildRebuild.get(b) match {
          case Some(hook) =>
            val t = System.nanoTime()
            hook(spark, a.data)
            r.layers(s"build.${b}_s") = (System.nanoTime() - t) / 1e9
          case None => r.info(s"no_rebuild_hook.$b") = true
        }
      }
      r.layers("build.total_s") = touched.flatMap(b => r.layers.get(s"build.${b}_s")).sum
    }
    r.storedBytes = Main.du(System.getProperty("java.io.tmpdir"))
  }
}

/** Order-independent content digest of a DataFrame: row count and the
  * wrapping sum of a 64-bit hash per row. Each row is rendered with its
  * columns sorted by name; doubles are rounded to ten significant digits so
  * that summation order cannot change the digest.
  */
object Content {
  def hash(df: DataFrame): (Long, Long) = {
    val names = df.columns.toSeq
    val pos = df.toDF(names.indices.map(i => s"c$i"): _*)
    val cells = names.zipWithIndex.sortBy(_._1).map { case (_, i) =>
      val c = col(s"c$i")
      val s = df.schema(i).dataType match {
        case DoubleType | FloatType => format_string("%.9e", c)
        case BinaryType => hex(c)
        case _ => c.cast(StringType)
      }
      coalesce(s, lit("\u0000"))
    }
    val row = if (cells.isEmpty) lit("") else concat_ws("\u0001", cells: _*)
    val res = pos.select(xxhash64(row).as("h"))
      .agg(count(lit(1)), coalesce(sum(col("h")), lit(0L))).head()
    (res.getLong(0), res.getLong(1))
  }
}

/** Expectations for the registry mix, from `graft.Verify`'s parquet dumps:
  * `perfbench.Expect <verify out dir> <entry,...>` prints one JSON object
  * per entry with the row count and content digest of its dump.
  */
object Expect {
  def main(argv: Array[String]): Unit = {
    val spark = graft.GraftSession.builder(Runtime.getRuntime.availableProcessors.toString).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    argv(1).split(',').foreach { e =>
      val (rows, h) = Content.hash(spark.read.parquet(s"${argv(0)}/$e"))
      println(Json.render(Map("name" -> e, "rows" -> rows, "hash" -> h.toString)))
    }
    spark.stop()
  }
}
