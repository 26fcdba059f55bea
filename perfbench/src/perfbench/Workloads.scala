package perfbench

import graft.correct.{Cells, Cleaning, Correctors}
import graft.pages.{PageGen, PagePipeline}
import graft.rollup.TierRouter
import graft.snapshot.{ContinuousRollup, SnapshotStore}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** State of one benchmark run: timings, checks and the record. */
final class Run(val spark: SparkSession, val trace: Trace, val seed: Int, val seconds: Double, val work: String) {
  val product = new Product(spark, trace)
  /** Product calls of set-up: always through `Main`, never in a span. */
  val setupProduct = new Product(spark, new Trace(spark, enabled = false))
  val cores: Int = spark.sparkContext.defaultParallelism
  var attempted = 0L
  var failed = 0L
  /** Seconds of each timed call, by the name the record reports. */
  val samples: mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]] = mutable.LinkedHashMap.empty
  /** Seconds of each set-up repetition. */
  val setup: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  /** Named values the record line reports, with their unit. */
  val record: mutable.LinkedHashMap[String, (Double, String)] = mutable.LinkedHashMap.empty
  val runlogUpdateSeconds: mutable.ArrayBuffer[Double] = mutable.ArrayBuffer.empty
  /** Control-loop trials, taken right after the measured window. */
  var control: Seq[Double] = Nil
  var mainConf: Seq[(String, String)] = Nil

  /** Seconds of timed calls since the current loop iteration began. */
  private var iterationSeconds = 0.0

  /** Time one product call; it counts as one attempted operation. */
  def timed[T](name: String)(body: => T): T = {
    attempted += 1
    val t0 = System.nanoTime()
    val out = body
    val s = (System.nanoTime() - t0) / 1e9
    samples.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += s
    iterationSeconds += s
    out
  }

  /** An output check; a failed one counts as a failed operation. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      System.err.println(s"perfbench: check failed: $what")
    }
  }

  /** Closed loop with one client: call `body` `calls` times, each call
    * starting only when the previous one has returned. The count is
    * fixed, so every run of a workload makes the same calls on the same
    * state, however fast the code is; `seconds` is only a cap: no
    * iteration starts once the window has passed it. The timed calls of
    * each iteration add up to one `cycle_s` sample.
    */
  def closedLoop(calls: Int)(body: Int => Unit): Int = {
    phase("measuring")
    val t0 = System.nanoTime()
    var i = 0
    while (i < calls && (i == 0 || (System.nanoTime() - t0) / 1e9 < seconds)) {
      iterationSeconds = 0.0
      body(i)
      samples.getOrElseUpdate("cycle_s", mutable.ArrayBuffer.empty) += iterationSeconds
      i += 1
    }
    phase(s"measured $i of $calls loop iterations")
    record("loop_iterations") = (i.toDouble, "count")
    control = Seq.fill(2)(controlRowsPerSec())
    i
  }

  /** Same-window control: rows per second of a fixed sha2 chain over
    * `range`, with no input and no shuffle. Reported beside the
    * measurements; nothing is normalised by it.
    */
  private def controlRowsPerSec(): Double = {
    val rows = 1000000L
    val t0 = System.nanoTime()
    spark
      .range(rows)
      .select(sha2(concat(lit("k"), col("id"), sha2(col("id").cast("string"), 256)), 256).as("h"))
      .agg(count(when(substring(col("h"), 1, 1) === "a", 1)))
      .head()
    rows / ((System.nanoTime() - t0) / 1e9)
  }

  /** Session conf `Main` ran with: the settings at stake for its jobs. */
  def captureMainConf(): Unit =
    if (mainConf.isEmpty)
      mainConf = Seq(
        "spark.sql.shuffle.partitions",
        "spark.sql.files.maxPartitionBytes",
        "spark.sql.adaptive.enabled"
      ).map(k => k -> spark.conf.get(k))

  private val born = System.nanoTime()

  /** Progress line on stderr, for reading where a run's time went. */
  def phase(what: String): Unit = System.err.println(f"perfbench: ${(System.nanoTime() - born) / 1e9}%.1fs $what")
}

/** The three workloads. Each is a closed loop with one client over the
  * public entry points a crawl operator uses; see README.md for why
  * each exists and what it should move.
  */
object Workloads {

  /** Pages of one `bulk_fold` ingest (35 days, as `PageGen` spreads them). */
  val BulkPages = 60000L
  /** Pages of the `trickle` base table. */
  val TricklePages = 3500L
  /** Pages of one `trickle` append: about one day of the base table. */
  val TrickleBatch = 100L
  /** Small appends of one `trickle` run. The last `TrickleTimedAppends`
    * are timed, each followed by an update and a dashboard refresh; the
    * ones before them go into set-up and are folded by one update, so
    * the timed updates meet the snapshots of a dozen appends, which a
    * run's time budget could not afford to time one by one.
    */
  val TrickleAppends = 12
  val TrickleTimedAppends = 3
  val LateShare = 0.10
  /** One dashboard refresh after each `trickle` update: a panel each at
    * 1m step over the new day, 1h over the last week, 1d over all days.
    */
  val ReadSteps: Seq[Long] = Seq(60L, 3600L, 86400L)
  /** Ingest-and-fold calls of one `bulk_fold` run. */
  val BulkFolds = 1
  val VoterRows = 2000L
  val MissingShare = 0.02
  val LabelBudget = 20
  /** Label-and-clean calls of one `clean_table` run. */
  val CleaningRuns = 2
  /** Label draws per cleaning call: the draw is short, so it is timed
    * several times for a steady median.
    */
  val LabelDraws = 3

  /** Domains of the `trickle` tables; its seed drives the appended
    * batches, so every run folds the same number of series.
    */
  val TrickleDomains = 50
  /** Domains of a `bulk_fold` table: `Main job=ingest` takes no seed,
    * so the seed picks the domain count, the one input it does take.
    */
  private def bulkDomains(seed: Int) = 45 + math.floorMod(seed, 10)

  /** Update, then read back the `_runlog` row it must have written. */
  private def updateChecked(r: Run, root: String, tiers: String, days: Set[String], timedAs: String): Unit = {
    val from = ContinuousRollup.lastApplied(tiers)
    val to = SnapshotStore.currentSnapshotId(root)
    val startMillis = System.currentTimeMillis()
    r.timed(timedAs)(r.product.update(root, tiers))
    r.captureMainConf()
    r.check(ContinuousRollup.lastApplied(tiers) == to, s"update did not apply snapshot $to")
    Checks.runlogRow(r.spark, tiers, to, withLineage = r.trace.enabled) match {
      case None => r.check(ok = false, s"no single _runlog metrics row for snapshot $to")
      case Some(row) =>
        r.runlogUpdateSeconds += row.updateSeconds
        val expected = Checks.expectedDirsRead(root, to, days)
        r.check(row.dirsRead == expected, s"_runlog dirs read ${row.dirsRead}, expected $expected")
        if (r.trace.enabled) {
          val t = "snapshot.rollup_update"
          r.trace.count(t, "dirs_read", row.dirsRead.toDouble)
          r.trace.count(t, "dirs_total", row.dirsTotal.toDouble)
          r.trace.count(t, "runlog_update_s", row.updateSeconds)
          row.rowsOut.foreach { case (tier, n) => r.trace.count(t, s"rows_out_$tier", n.toDouble) }
          val written = Checks.storedDirs(root, tiers).tail.map(Checks.dataFilesSince(_, startMillis)).sum
          r.trace.count(t, "files_written", written.toDouble)
          val appended = Checks.bytesOnDisk(SnapshotStore.resolveDirs(root, from, to))
          r.trace.count(t, "appended_bytes", appended.toDouble)
          r.product.repairProbe(root, tiers, from, to)
        }
    }
  }

  /** Every tier against the one-shot oracle over the whole source table. */
  private def checkTiers(r: Run, root: String, tiers: String): Unit = {
    r.phase("checking tiers against the oracle")
    val repaired = PagePipeline.repair(SnapshotStore.read(r.spark, root))
    Checks.tierMismatches(r.spark, repaired, tiers).foreach { case (t, n) =>
      r.check(n == 0, s"tier $t differs from the oracle in $n rows")
    }
  }

  private def recordStored(r: Run, root: String, tiers: String, pages: Long): Unit = {
    val perPage = Checks.bytesOnDisk(Checks.storedDirs(root, tiers)).toDouble / pages
    r.record("stored_bytes_per_page") = (perPage, "bytes")
  }

  /** A few hundred thousand pages would be the production shape; the
    * run budget allows tens of thousands. Each call ingests a fresh
    * table through `Main job=ingest` and folds it into empty tiers
    * through `Main job=update`, so the scan, repair, all-partition
    * aggregation and tier writes dominate.
    */
  def bulkFold(r: Run): Unit = {
    val d = bulkDomains(r.seed)
    var days = Set.empty[String]
    r.setup += time { days = Inputs.days(PageGen.clean(r.spark, BulkPages, d)) }
    var last = ""
    r.closedLoop(BulkFolds) { i =>
      if (last.nonEmpty) SnapshotStore.deleteRecursively(last)
      last = s"${r.work}/bulk$i"
      val (root, tiers) = (s"$last/src", s"$last/tiers")
      r.timed("ingest_s")(r.product.ingest(root, BulkPages, d))
      updateChecked(r, root, tiers, days, "fold_s")
    }
    val (root, tiers) = (s"$last/src", s"$last/tiers")
    recordStored(r, root, tiers, BulkPages)
    checkTiers(r, root, tiers)
    val secs = r.samples
    r.record("ingest_pages_per_s") = (BulkPages * secs("ingest_s").size / secs("ingest_s").sum, "1/s")
    r.record("fold_pages_per_s") = (BulkPages * secs("fold_s").size / secs("fold_s").sum, "1/s")
  }

  /** A base table, then a dozen small appends of about one day of pages
    * on a new day plus late pages on earlier days. Set-up ingests the
    * base and all but the last appends and folds them with one update;
    * each timed append is followed by `Main job=update` and dashboard
    * reads; the run ends with `Main job=compact`. Fixed per-update cost,
    * pruning and read amplification dominate; the repair kernel barely
    * runs.
    */
  def trickle(r: Run): Unit = {
    val d = TrickleDomains
    val (root, tiers) = (s"${r.work}/trickle/src", s"${r.work}/trickle/tiers")
    val baseDays = 35
    val untimed = TrickleAppends - TrickleTimedAppends
    def batch(k: Int) = {
      val firstId = TricklePages + k * TrickleBatch
      Inputs.shiftedBatch(r.spark, TrickleBatch, firstId, baseDays + k, LateShare, d, r.seed * 1000 + k)
    }
    r.setup += time {
      r.setupProduct.ingest(root, TricklePages, d)
      r.phase("base table ingested")
      (0 until untimed).foreach(k => r.setupProduct.append(root, PageGen.corrupt(batch(k))))
      r.phase(s"$untimed set-up appends made")
      r.setupProduct.update(root, tiers)
    }
    val cycles = r.closedLoop(TrickleTimedAppends) { i =>
      val k = untimed + i
      val day = baseDays + k
      val clean = batch(k)
      val days = Inputs.days(clean)
      r.timed("append_s")(r.product.append(root, PageGen.corrupt(clean)))
      updateChecked(r, root, tiers, days, "update_s")
      r.timed("refresh_s")(ReadSteps.foreach { step =>
        val (from, to) = step match {
          case 60L   => (day, day + 1)
          case 3600L => (math.max(0, day - 6), day + 1)
          case _     => (0, day + 1)
        }
        def at(dd: Int) = new java.sql.Timestamp((PageGen.BaseEpoch + dd * Inputs.DaySeconds) * 1000L)
        val t0 = System.nanoTime()
        val rows = r.trace.span("rollup.router_read") {
          val (_, df) =
            TierRouter.serve(ContinuousRollup.readTier(r.spark, tiers, _), Checks.Series, step, at(from), at(to))
          df.collect().length
        }
        r.samples.getOrElseUpdate("read_s", mutable.ArrayBuffer.empty) += (System.nanoTime() - t0) / 1e9
        r.trace.count("rollup.router_read", "rows_returned", rows.toDouble)
        if (step == 60L) r.check(rows > 0, s"dashboard read of day $day returned no rows")
      })
    }
    r.timed("compact_s")(r.product.compact(root, tiers))
    r.phase("compacted")
    val pages = TricklePages + (untimed + cycles) * TrickleBatch
    recordStored(r, root, tiers, pages)
    checkTiers(r, root, tiers)
    val secs = r.samples
    r.record("update_s_p50") = (Stats.median(secs("update_s").toSeq), "s")
    r.record("append_s_p50") = (Stats.median(secs("append_s").toSeq), "s")
    r.record("compact_s") = (secs("compact_s").head, "s")
    r.record("read_s_p50") = (Stats.median(secs("read_s").toSeq), "s")
    r.record("reads") = (secs("read_s").size.toDouble, "count")
  }

  /** `Cleaning.run` with the default config and a Baran label budget on
    * a voters-shaped table with MCAR blanks. Never touches the pages,
    * snapshot or rollup layers: the bypass check for work there.
    */
  def cleanTable(r: Run): Unit = {
    val spark = r.spark
    val clean = Inputs.voters(spark, VoterRows, r.seed)
    val cols = clean.columns.filterNot(_ == "row_id").toSeq
    var dirty, diff: DataFrame = null
    r.setup += time {
      dirty = Inputs.blankCells(clean, cols, MissingShare, r.seed).cache()
      diff = Cells.cellDiff(dirty, clean, "row_id", cols).cache()
      diff.count()
    }
    val detected = diff.select(col("row_id"), col("col"), col("dirty_value").as("error_value"))
    val actual = diff.select(col("row_id"), col("col"), col("clean_value"))
    val errors = detected.count()
    var labels: DataFrame = null
    var corrections: DataFrame = null
    r.closedLoop(CleaningRuns) { _ =>
      val rows = Seq.fill(LabelDraws)(
        r.timed("label_s")(r.trace.span("correct.label_sample")(Correctors.baranSample(detected, LabelBudget)))
      ).last
      labels = actual.filter(col("row_id").isin(rows: _*))
      if (corrections != null) corrections.unpersist()
      corrections = r.timed("clean_s") {
        r.trace.span("correct.cleaning_run")(Cleaning.run(dirty, "row_id", cols, detected, labels))
      }
      r.trace.count("correct.cleaning_run", "cells_corrected", corrections.count().toDouble)
    }
    val f1 = Correctors.evaluate(corrections, actual)("ec_f")
    r.check(f1 > 0, "cleaning corrected no cell right")
    val outside = corrections.join(detected, Seq("row_id", "col"), "left_anti").count()
    r.check(outside == 0, s"$outside corrections of cells that were not detected")
    val labeledWrong = labels
      .join(corrections, Seq("row_id", "col"))
      .filter(!(col("clean_value") <=> col("value")))
      .count()
    r.check(labeledWrong == 0, s"$labeledWrong labeled cells not set to their label")
    r.record("clean_f1") = (f1, "ratio")
    corrections.unpersist()
    val secs = r.samples
    r.record("clean_cells_per_s") = (errors * secs("clean_s").size / secs("clean_s").sum, "1/s")
    dirty.unpersist()
    diff.unpersist()
  }

  private def time(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }
}

object Stats {

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    (s((s.size - 1) / 2) + s(s.size / 2)) / 2
  }
}
