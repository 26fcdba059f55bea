package perfbench

import graft.Main
import graft.pages.{PageGen, PageModel, PagePipeline}
import graft.snapshot.{ContinuousRollup, SnapshotStore}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The product calls the workloads make.
  *
  * Every job `graft.Main` offers goes through `Main.main`, so the
  * numbers include `Main`'s own session handling and wiring; traced,
  * the call is wrapped in its span. The one exception is a traced
  * update: there the benchmark makes the library calls `Main` makes, in
  * `Main`'s order and with `Main`'s arguments, each inside its own span;
  * that is the only way to split an update into its model and rollup
  * layers without changing the program.
  */
final class Product(spark: SparkSession, trace: Trace) {

  private def main(job: String, kv: (String, Any)*): Unit =
    Main.main((s"job=$job" +: kv.map { case (k, v) => s"$k=$v" }).toArray)

  /** `Main job=ingest`: synthesize and corrupt `pages` pages, append
    * them as one day-partitioned snapshot.
    */
  def ingest(root: String, pages: Long, domains: Int): Unit = {
    val before = if (trace.enabled) Checks.dataFiles(s"$root/data") else 0L
    trace.span("snapshot.append")(main("ingest", "root" -> root, "pages" -> pages, "domains" -> domains))
    if (trace.enabled)
      trace.count("snapshot.append", "files_written", (Checks.dataFiles(s"$root/data") - before).toDouble)
  }

  /** A day-shifted batch appended straight through the store (no
    * `Main` job appends a given frame).
    */
  def append(root: String, batch: org.apache.spark.sql.DataFrame): Unit = {
    val id = trace.span("snapshot.append")(SnapshotStore.append(root, batch, tsCol = Some("warc_ts")))
    trace.count("snapshot.append", "files_written", Checks.dataFiles(s"$root/data/s$id").toDouble)
  }

  /** `Main job=update`: roll the lang model forward over the new
    * snapshots, then fold them into every tier with the repair as the
    * prepare stage.
    */
  def update(root: String, tiers: String): Unit =
    if (!trace.enabled) main("update", "root" -> root, "tiers" -> tiers)
    else
      trace.span("Main.update") {
        val from = ContinuousRollup.lastApplied(tiers)
        val to = SnapshotStore.currentSnapshotId(root)
        if (to > from) {
          val model = trace.span("pages.model_update")(PageModel.update(spark, root, tiers, from, to))
          trace.span("snapshot.rollup_update") {
            ContinuousRollup.update(
              spark,
              root,
              tiers,
              Checks.Series,
              "warc_ts",
              length(col("html")).cast("long"),
              prepare =
                df => PagePipeline.repairWithCounts(df, model).withColumn("domain", PageGen.domainOf("url"))
            )
          }
        }
      }

  /** The repair stage alone: the pages of snapshots (from, to] repaired
    * with the model `update` left, written to a sink that discards them.
    */
  def repairProbe(root: String, tiers: String, from: Long, to: Long): Unit =
    trace.span("pages.repair_probe") {
      PagePipeline
        .repairWithCounts(SnapshotStore.readRange(spark, root, from, to), PageModel.read(spark, tiers, to))
        .write
        .format("noop")
        .mode("overwrite")
        .save()
    }

  /** `Main job=compact` with the tiers as the only consumer. */
  def compact(root: String, tiers: String): Unit = {
    if (trace.enabled) trace.count("snapshot.compact", "files_before", Checks.dataFiles(s"$root/data").toDouble)
    trace.span("snapshot.compact")(main("compact", "root" -> root, "tiers" -> tiers))
    if (trace.enabled) trace.count("snapshot.compact", "files_after", Checks.dataFiles(s"$root/data").toDouble)
  }
}
