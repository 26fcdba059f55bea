package graft

import graft.snapshot.{ContinuousRollup, SnapshotStore}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.SessionProbe

/** End-to-end driver contract: ingest snapshots, fold them into the
  * tiers with repair-before-aggregate, resume idempotently, repair the
  * full table, append run metrics.
  */
class MainSpec extends SparkSpec {

  test("ingest -> update -> ingest -> update -> resume -> repair") {
    val base = "/tmp/graft_test_main"
    val root = s"$base/src"
    val tiers = s"$base/tiers"
    SnapshotStore.deleteRecursively(base)
    spark // materialize the shared session so Main reuses it

    Main.main(Array("job=ingest", s"root=$root", "pages=3000", "domains=10"))
    Main.main(Array("job=update", s"root=$root", s"tiers=$tiers", s"metrics=$base/metrics"))
    Main.main(Array("job=ingest", s"root=$root", "pages=2000", "domains=10"))
    Main.main(Array("job=update", s"root=$root", s"tiers=$tiers", s"metrics=$base/metrics"))

    // every ingested row lands in the hourly tier exactly once
    val got = ContinuousRollup.readTier(spark, tiers, "1h").agg(sum("point_count")).head().getLong(0)
    assert(got == 5000L)
    // the repaired timestamps drove partitioning: nothing in the
    // epoch-zero day partition that corrupted warc_ts would create
    val minBucket = ContinuousRollup.readTier(spark, tiers, "1d").agg(min("bucket_ts")).head().getTimestamp(0)
    assert(minBucket.toInstant.toString.startsWith("2024-"))

    // resume: marker at 2, re-update is a no-op
    assert(ContinuousRollup.lastApplied(tiers) == 2L)
    Main.main(Array("job=update", s"root=$root", s"tiers=$tiers"))
    assert(ContinuousRollup.lastApplied(tiers) == 2L)

    Main.main(Array("job=repair", s"root=$root", s"out=$base/repaired"))
    val rep = spark.read.parquet(s"$base/repaired")
    assert(rep.count() == 5000L)
    assert(rep.filter(col("text") === "" && length(col("html")) > 0).count() == 0L)

    assert(spark.read.parquet(s"$base/metrics").count() == 2L)
  }

  test("Main job=update leaves nothing cached") {
    val base = "/tmp/graft_test_main_cache"
    val root = s"$base/src"
    SnapshotStore.deleteRecursively(base)
    spark // materialize the shared session so Main reuses it
    Main.main(Array("job=ingest", s"root=$root", "pages=1000", "domains=5"))
    val before = SessionProbe.cachedFrames(spark)
    Main.main(Array("job=update", s"root=$root", s"tiers=$base/tiers"))
    assert(ContinuousRollup.lastApplied(s"$base/tiers") == 1L)
    assert(SessionProbe.cachedFrames(spark) == before)
  }
}
