package graft.correct

import graft.SparkSpec
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SessionProbe
import org.apache.spark.storage.StorageLevel

/** E2E lifecycle on the reference's own debug fixtures
  * (`datasets/debug`, `datasets/toy` — FIXTURES.md §2): perfect-oracle
  * detection -> full ensemble -> A13 decision -> overlay -> cell-exact
  * evaluation.
  */
class CleaningSpec extends SparkSpec {
  import spark.implicits._

  private def detect(dirty: DataFrame, clean: DataFrame, cols: Seq[String]): DataFrame =
    Cells
      .cellDiff(dirty, clean, "row_id", cols)
      .select(col("row_id"), col("col"), col("dirty_value").as("error_value"))

  private def actualErrors(dirty: DataFrame, clean: DataFrame, cols: Seq[String]): DataFrame =
    Cells
      .cellDiff(dirty, clean, "row_id", cols)
      .select(col("row_id"), col("col"), col("clean_value"))

  test("debug fixture: ensemble repairs every cell, F1 = 1.0, no labels") {
    val cols = Seq("ID", "Tier", "Sprache", "Sagt")
    val clean = Seq(
      (1L, "1", "Hund", "Deutsch", "wau"),
      (2L, "2", "Katze", "Deutsch", "miau"),
      (3L, "3", "Kuh", "Deutsch", "muh"),
      (4L, "4", "Hund", "Deutsch", "wau"),
      (5L, "5", "Katze", "Deutsch", "miau"),
      (6L, "6", "Katze", "Deutsch", "miau")
    ).toDF("row_id" +: cols: _*)
    val dirty = Seq(
      (1L, "1", "Hund", "Deutsch", "wau"),
      (2L, "2", "Katze", "Deutsch", "?"),
      (3L, "3", "Kuh", "Deutsch", "muh"),
      (4L, "4", "Hund", "Deutsch", "?"),
      (5L, "5", "?", "Deutsch", "miau"),
      (6L, "6", "Katze", "Deutsch", "miau")
    ).toDF("row_id" +: cols: _*)

    val detected = detect(dirty, clean, cols)
    val noLabels = Seq.empty[(Long, String, String)].toDF("row_id", "col", "clean_value")
    val corrections = Cleaning.run(dirty, "row_id", cols, detected, noLabels)

    val got = corrections.collect().map(r => ((r.getLong(0), r.getString(1)), r.getString(2))).toMap
    assert(got == Map((2L, "Sagt") -> "miau", (4L, "Sagt") -> "wau", (5L, "Tier") -> "Katze"))

    val m = Correctors.evaluate(corrections, actualErrors(dirty, clean, cols))
    assert(m("ed_f") == 1.0 && m("ec_f") == 1.0)

    // applied back, the table equals clean
    val repaired = Cleaning.repaired(dirty, "row_id", cols, detected, noLabels)
    assert(repaired.except(clean).isEmpty && clean.except(repaired).isEmpty)
  }

  // a larger Tier->Sagt FD table, every 10th Sagt blanked, three of
  // those labeled: synthetic rows exist to draw from
  private val animalCols = Seq("Tier", "Sagt")
  private lazy val animalClean = {
    val animals = Seq("Hund" -> "wau", "Katze" -> "miau", "Kuh" -> "muh")
    (1L to 60L)
      .map(i => (i, animals((i % 3).toInt)._1, animals((i % 3).toInt)._2))
      .toDF("row_id" +: animalCols: _*)
  }
  private lazy val animalDirty = animalClean
    .withColumn("Sagt", when(col("row_id") % 10 === 2, lit("?")).otherwise(col("Sagt")))
  private lazy val animalLabels = animalClean
    .filter(col("row_id") % 10 === 2 && col("row_id") <= 22)
    .select(col("row_id"), lit("Sagt").as("col"), col("Sagt").as("clean_value"))

  test("synthetic tuples ride the lifecycle: no synth-cell output, repairs intact") {
    // the meta-learner with synthetic training pairs must still repair
    // the real errors and must never emit corrections for the
    // synthetic cells themselves
    val (cols, clean, dirty, labels) = (animalCols, animalClean, animalDirty, animalLabels)
    val detected = detect(dirty, clean, cols)

    val cfg = CleaningConfig(useMetaLearner = true, metaMinLabels = 4, synthTuples = 10)
    val corrections = Cleaning.run(dirty, "row_id", cols, detected, labels, cfg).cache()

    // only detected cells are corrected, never synthetic ones
    val outCells = corrections.select("row_id", "col")
    assert(outCells.except(detected.select("row_id", "col")).isEmpty)

    val m = Correctors.evaluate(corrections, actualErrors(dirty, clean, cols))
    assert(m("ec_f") == 1.0, s"expected perfect repair, got $m")
  }

  test("toy fixture: overlay wins on labeled cells, value replay fixes the unlabeled near-dup") {
    val cols = Seq("ID", "Lord", "Kingdom")
    val clean = Seq(
      (1L, "1", "Aragorn", "Minas Tirith"),
      (2L, "2", "Sauron", "Mordor"),
      (3L, "3", "Gandalf", "N/A"),
      (4L, "4", "Saruman", "Isengard"),
      (5L, "5", "Elrond", "Rivendell"),
      (6L, "6", "Theoden", "Rohan"),
      (7L, "7", "Legolas", "Rivendell"),
      (8L, "8", "Legolas", "Rivendell"),
      (9L, "9", "Legolas", "Rivendell"),
      (10L, "10", "Hans", "Rivendell")
    ).toDF("row_id" +: cols: _*)
    val dirty = Seq(
      (1L, "1", "Aragorn", "Minas Tirith"),
      (2L, "2", "Sauron", "Mordor"),
      (3L, "3", "Gandalf", ""),
      (4L, "4", "Saruman", ""),
      (5L, "5", "Elrond", "123"),
      (6L, "6", "Theoden", "Shire"),
      (7L, "7", "Legolas", "Riwendael"),
      (8L, "8", "Legolas", "Riffendell"),
      (9L, "9", "Legolas", "Riwendell"),
      (10L, "10", "Hans", "Riendell")
    ).toDF("row_id" +: cols: _*)

    val detected = detect(dirty, clean, cols)
    val labels = Seq(
      (7L, "Kingdom", "Rivendell"),
      (8L, "Kingdom", "Rivendell")
    ).toDF("row_id", "col", "clean_value")

    val corrections = Cleaning.run(dirty, "row_id", cols, detected, labels)
    val got = corrections.collect().map(r => ((r.getLong(0), r.getString(1)), r.getString(2))).toMap

    // labeled cells: overlay wins
    assert(got((7L, "Kingdom")) == "Rivendell")
    assert(got((8L, "Kingdom")) == "Rivendell")
    // unlabeled 'Riwendell': the replacer+swapper replay of the
    // (Riwendael -> Rivendell) label agree on 'Rivendell' (feature sum
    // 2.0 beats every 1.0 alternative) — golden from the reference's
    // difflib semantics
    assert(got((9L, "Kingdom")) == "Rivendell")

    // detection precision stays perfect (corrections only on real
    // errors); exactly the three cells above are corrected right
    val m = Correctors.evaluate(corrections, actualErrors(dirty, clean, cols))
    assert(m("ed_p") == 1.0)
    assert(m("ec_p") * corrections.count() == 3.0)
  }

  test("Cleaning.run caches only its result and names its jobs by phase, default and meta-learner paths") {
    val detected = detect(animalDirty, animalClean, animalCols)

    val sc = spark.sparkContext
    val descriptions = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).foreach(descriptions.add)
    }
    sc.addSparkListener(listener)
    try {
      // 12 synthetic tuples: not the plan the synth case above leaves cached
      for (cfg <- Seq(CleaningConfig(), CleaningConfig(useMetaLearner = true, metaMinLabels = 4, synthTuples = 12))) {
        sc.setJobDescription("caller")
        val before = SessionProbe.cachedFrames(spark)
        val out = Cleaning.run(animalDirty, "row_id", animalCols, detected, animalLabels, cfg)
        assert(sc.getLocalProperty("spark.job.description") == "caller", s"caller description lost ($cfg)")
        assert(out.storageLevel != StorageLevel.NONE)
        assert(SessionProbe.cachedFrames(spark) == before + 1, s"working frames left cached ($cfg)")
        out.unpersist(blocking = true)
        assert(SessionProbe.cachedFrames(spark) == before)
      }
    } finally {
      sc.setJobDescription(null)
      SessionProbe.drainListenerBus(spark)
      sc.removeSparkListener(listener)
    }
    val seen = descriptions.toArray.map(_.toString).toSet
    val phases = Set("value models", "pair counts", "fd stats", "suggestions", "decide").map("Cleaning.run: " + _)
    assert(phases.subsetOf(seen), s"job descriptions seen: $seen")
  }
}
