package perfbench

import graft.pages.PageGen
import graft.rollup.{Rollup, Tiers}
import graft.snapshot.{ContinuousRollup, SnapshotStore}
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Untimed output checks and on-disk measurements. */
object Checks {

  /** The series `Main job=update` rolls pages up by. */
  val Series: Seq[String] = Seq("domain", "lang")

  /** Rows per tier in which the stored tiers differ from the one-shot
    * oracle: `PagePipeline.repair` over the full source table, then
    * `Rollup.fromRaw` at 1m and the `reRollup` cascade, compared on
    * (series, bucket_ts, point_count, byte_size).
    */
  def tierMismatches(spark: SparkSession, repaired: DataFrame, tiersRoot: String): Seq[(String, Long)] = {
    val oracle = Rollup.allTiers(
      repaired.withColumn("domain", PageGen.domainOf("url")),
      Series,
      "warc_ts",
      length(col("html")).cast("long")
    )
    val keys = (Series ++ Seq("bucket_ts", "point_count", "byte_size")).map(col)
    def tagged(t: String, df: DataFrame, w: Long) = df.select(lit(t).as("tier") +: keys: _*).withColumn("w", lit(w))
    val both = Tiers.All
      .flatMap(t => Seq(tagged(t, ContinuousRollup.readTier(spark, tiersRoot, t), 1L), tagged(t, oracle(t), -1L)))
      .reduce(_ unionByName _)
    val diff = both
      .groupBy(col("tier") +: keys: _*)
      .agg(sum("w").as("w"))
      .filter(col("w") =!= 0L)
      .groupBy("tier")
      .count()
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
      .toMap
    Tiers.All.map(t => t -> diff.getOrElse(t, 0L))
  }

  /** The `_runlog` rows of the update that applied snapshot `id`. */
  final case class RunlogRow(updateSeconds: Double, dirsRead: Long, dirsTotal: Long, rowsOut: Map[String, Long])

  def runlogRow(spark: SparkSession, tiersRoot: String, id: Long, withLineage: Boolean): Option[RunlogRow] = {
    val m = ContinuousRollup.readMetrics(spark, tiersRoot).filter(col("applied_snapshot") === id).collect()
    if (m.length != 1) None
    else {
      val rows =
        if (!withLineage) Map.empty[String, Long]
        else
          ContinuousRollup
            .readLineage(spark, tiersRoot)
            .filter(col("applied_snapshot") === id)
            .select("tier", "rows_out")
            .collect()
            .map(r => r.getString(0) -> r.getLong(1))
            .toMap
      val r = m.head
      Some(
        RunlogRow(
          r.getAs[Double]("update_seconds"),
          r.getAs[Int]("source_dirs_read").toLong,
          r.getAs[Int]("source_dirs_total").toLong,
          rows
        )
      )
    }
  }

  /** Source dirs an update that folds pages landing on `days` must read:
    * those days plus the suspect-day partitions, in every snapshot.
    */
  def expectedDirsRead(sourceRoot: String, to: Long, days: Set[String]): Long =
    SnapshotStore.resolveDirs(sourceRoot, 0L, to, Some(days), ContinuousRollup.defaultSuspectDay).size.toLong

  private def files(dir: String): Seq[Path] = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally s.close()
    }
  }

  private def isData(p: Path): Boolean = p.getFileName.toString.endsWith(".parquet")

  /** Bytes of every file under `dirs` (data files, checksums, markers). */
  def bytesOnDisk(dirs: Seq[String]): Long = dirs.flatMap(files).map(Files.size).sum

  /** Parquet files under `dir`. */
  def dataFiles(dir: String): Long = files(dir).count(isData).toLong

  /** Parquet files under `dir` last modified at or after `millis`. */
  def dataFilesSince(dir: String, millis: Long): Long =
    files(dir).count(p => isData(p) && Files.getLastModifiedTime(p).toMillis >= millis).toLong

  /** Source data and tier tables, the bytes a page costs on disk. */
  def storedDirs(sourceRoot: String, tiersRoot: String): Seq[String] =
    s"$sourceRoot/data" +: Tiers.All.map(t => s"$tiersRoot/tier_$t")
}
