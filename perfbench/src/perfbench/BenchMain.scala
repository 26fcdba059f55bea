package perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.perfbench.Internals
import org.apache.spark.sql.SparkSession

/** Driver of one benchmark run, submitted by run.py:
  *
  *   --work <dir> --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *   --work <dir> --selftest
  *
  * Prints one record line with everything the run measured, then the
  * result object as the last line of standard output.
  */
object BenchMain {

  /** Spans of the traced run, named `<module>.<call>`. */
  val Spans: Seq[String] = Seq(
    "spark.session",
    "Main.update",
    "snapshot.append",
    "pages.model_update",
    "pages.repair_probe",
    "snapshot.rollup_update",
    "snapshot.compact",
    "rollup.router_read",
    "correct.label_sample",
    "correct.cleaning_run"
  )

  /** Counts the workloads add to a span, beyond the per-span Spark work. */
  val SpanCounts: Map[String, Seq[String]] = Map(
    "snapshot.append" -> Seq("files_written"),
    "snapshot.rollup_update" ->
      (Seq("dirs_read", "dirs_total", "runlog_update_s") ++ graft.rollup.Tiers.All.map(t => s"rows_out_$t") ++
        Seq("files_written", "appended_bytes")),
    "snapshot.compact" -> Seq("files_before", "files_after"),
    "rollup.router_read" -> Seq("rows_returned"),
    "correct.cleaning_run" -> Seq("cells_corrected")
  )

  /** The headline call of each workload. */
  val Primary: Map[String, String] = Map(
    "bulk_fold" -> "fold_s",
    "trickle" -> "update_s",
    "clean_table" -> "clean_s"
  )

  /** Session starts per run; the set-up time takes their median. */
  val SessionStarts = 3

  def main(args: Array[String]): Unit = {
    val opts = parse(args)
    val starts = (1 to SessionStarts).map(_ => startSession())
    val spark = SparkSession.active
    val work = opts("work")
    if (opts.contains("selftest")) {
      SelfTest.run(spark)
      spark.stop()
      return
    }
    val workload = opts("workload")
    require(Primary.contains(workload), s"unknown workload '$workload'")
    val trace = new Trace(spark, opts("trace") == "1")
    starts.foreach(s => trace.record("spark.session", s))
    val r = new Run(spark, trace, opts("seed").toInt, opts("seconds").toDouble, s"$work/data")

    r.phase("session started")
    workload match {
      case "bulk_fold"   => Workloads.bulkFold(r)
      case "trickle"     => Workloads.trickle(r)
      case "clean_table" => Workloads.cleanTable(r)
    }
    r.phase("workload done")
    val control = Stats.median(r.control)
    val endToEnd = Seq(
      "setup_s" -> (Stats.median(starts) + Stats.median(r.setup.toSeq)),
      "primary_s_p50" -> Stats.median(r.samples(Primary(workload)).toSeq),
      "cycle_s_p50" -> Stats.median(r.samples("cycle_s").toSeq)
    )
    val perLayer =
      if (!trace.enabled) Nil
      else {
        val spans = trace.report(Spans, SpanCounts, r.cores).toMap
        val u = "snapshot.rollup_update"
        val appended = spans(s"$u.appended_bytes")
        val amplification = if (appended > 0) spans(s"$u.input_bytes") / appended else 0.0
        (spans - s"$u.appended_bytes").toSeq ++ Seq(
          s"$u.read_amplification" -> amplification,
          "snapshot.stored_bytes_per_page" -> r.record.get("stored_bytes_per_page").map(_._1).getOrElse(0.0),
          "correct.cleaning_run.f1" -> r.record.get("clean_f1").map(_._1).getOrElse(0.0),
          "control.rows_per_s" -> control,
          "trace.primary_s_p50" -> endToEnd(1)._2
        )
      }

    val mapper = new ObjectMapper()
    val rec = mapper.createObjectNode()
    val body = rec.putObject("record")
    body.put("workload", workload).put("seed", r.seed).put("traced", trace.enabled)
    val host = body.putObject("host")
    host.put("nproc", Runtime.getRuntime.availableProcessors())
    host.put("heap_mb", Runtime.getRuntime.maxMemory() / (1L << 20))
    host.put("jdk", System.getProperty("java.version"))
    host.put("spark", spark.version)
    host.put("master", spark.sparkContext.master)
    val conf = body.putObject("main_conf")
    r.mainConf.foreach { case (k, v) => conf.put(k, v) }
    val runlog = body.putArray("runlog_update_s")
    r.runlogUpdateSeconds.foreach(v => runlog.add(v))
    val samples = body.putObject("samples_s")
    r.samples.foreach { case (k, xs) => xs.foldLeft(samples.putArray(k))(_ add _) }
    body.put("session_start_s", Stats.median(starts))
    body.put("control_rows_per_s", control)
    body.put("cached_frames_after", Internals.cachedFrames(spark))
    putMetrics(body.putObject("metrics"), r.record.toSeq)
    println(mapper.writeValueAsString(rec))

    val result = mapper.createObjectNode()
    result.put("correct", r.failed == 0).put("attempted", r.attempted).put("failed", r.failed)
    val chosen = if (trace.enabled) perLayer else endToEnd
    putMetrics(result.putObject("metrics"), chosen.map { case (k, v) => k -> (v, unitOf(k)) })
    println(mapper.writeValueAsString(result))
    spark.stop()
    r.phase("session stopped")
  }

  private def putMetrics(node: ObjectNode, metrics: Seq[(String, (Double, String))]): Unit =
    metrics.sortBy(_._1).foreach { case (k, (v, unit)) =>
      node.putObject(k).put("value", v).put("unit", unit)
    }

  /** Unit of a reported metric, from its name. */
  def unitOf(name: String): String = {
    val stat = name.substring(name.lastIndexOf('.') + 1)
    stat match {
      case "rows_per_s"                                   => "1/s"
      case "busy_ratio" | "read_amplification" | "f1"      => "ratio"
      case s if s.endsWith("_bytes") || s.endsWith("_bytes_per_page") => "bytes"
      case s if s.endsWith("_s") || s.contains("_s_")     => "s"
      case _                                              => "count"
    }
  }

  /** Start the session the way `spark-submit` leaves it for `Main`:
    * only the master (from the submit) is set. Every start but the last
    * is stopped again, so set-up is measured more than once per run.
    */
  private def startSession(): Double = {
    SparkSession.getActiveSession.foreach { s =>
      s.stop()
      SparkSession.clearActiveSession()
      SparkSession.clearDefaultSession()
    }
    val t0 = System.nanoTime()
    SparkSession.builder().getOrCreate()
    (System.nanoTime() - t0) / 1e9
  }

  private def parse(args: Array[String]): Map[String, String] = {
    val it = args.iterator.buffered
    val out = Map.newBuilder[String, String]
    while (it.hasNext) {
      val k = it.next()
      require(k.startsWith("--"), s"unexpected argument '$k'")
      if (it.hasNext && !it.head.startsWith("--")) out += k.drop(2) -> it.next() else out += k.drop(2) -> ""
    }
    out.result()
  }
}
