package perfbench

import graft.pages.{PageGen, PagePipeline}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's own test of its input generator: a day-shifted batch
  * keeps the timestamp repair exact, i.e. repairing the corrupted batch
  * gives back the shifted clean timestamps, and the batch lands on the
  * days it was built for. Exits non-zero when a check fails.
  */
object SelfTest {

  def run(spark: SparkSession): Unit = {
    val day = 40
    val clean = Inputs.shiftedBatch(spark, 4000L, 100000L, day, 0.10, 50, 7).cache()
    val dirty = PageGen.corrupt(clean)
    val repaired = PagePipeline.repair(dirty)
    val failures = Seq(
      "corrupt damaged no timestamp" ->
        (dirty.filter(col("warc_ts") <= timestamp_seconds(lit(0L))).count() == 0),
      "repaired timestamps differ from the shifted clean ones" ->
        (repaired.select("url", "warc_ts").exceptAll(clean.select("url", "warc_ts")).count() != 0 ||
          clean.select("url", "warc_ts").exceptAll(repaired.select("url", "warc_ts")).count() != 0),
      "html header does not carry the shifted timestamp" ->
        (clean
          .filter(
            regexp_extract(decode(col("html"), "UTF-8"), "<!--warc_ts:(\\d+)-->", 1).cast("long") =!=
              unix_timestamp(col("warc_ts"))
          )
          .count() != 0),
      "pages outside [0, day]" -> {
        val d = floor((unix_timestamp(col("warc_ts")) - PageGen.BaseEpoch) / Inputs.DaySeconds)
        clean.filter(d < 0 || d > day).count() != 0
      },
      "late share far from 10%" -> {
        val late = clean.filter(col("warc_ts") < timestamp_seconds(lit(PageGen.BaseEpoch + day * Inputs.DaySeconds)))
        math.abs(late.count() / 4000.0 - 0.10) > 0.03
      },
      "urls not fresh" -> (clean.select("url").distinct().count() != 4000L ||
        clean.filter(regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long") < 100000L).count() != 0)
    ).collect { case (what, true) => what }
    clean.unpersist()
    failures.foreach(f => System.err.println(s"perfbench selftest: FAIL $f"))
    if (failures.nonEmpty) sys.exit(1)
    println("perfbench selftest: all checks passed")
  }
}
