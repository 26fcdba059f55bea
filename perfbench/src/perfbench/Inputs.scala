package perfbench

import graft.pages.PageGen
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Inputs the benchmark generates from its seed. The program under
  * test only ever sees the generated frames.
  */
object Inputs {

  val DaySeconds: Long = 86400L

  /** One clean crawl batch of `n` fresh pages for day `day` (days since
    * `PageGen.BaseEpoch`), a `lateShare` of them late: they land on an
    * earlier day in [0, day).
    *
    * Built from `PageGen.clean`: every page keeps its time of day, and
    * `warc_ts` moves together with the `<!--warc_ts:N-->` header of its
    * html, so the timestamp repair still recovers the exact value.
    * Url ids start at `firstId`, so batches never share a url.
    */
  def shiftedBatch(
      spark: SparkSession,
      n: Long,
      firstId: Long,
      day: Int,
      lateShare: Double,
      domains: Int,
      seed: Int
  ): DataFrame = {
    require(day > 0, "a batch needs at least one earlier day for its late pages")
    val id = regexp_extract(col("url"), "/p/(\\d+)$", 1).cast("long") + firstId
    val late = pmod(xxhash64(id, lit(seed + 13)), lit(10000L)) < lit((lateShare * 10000).toLong)
    val pageDay = when(late, pmod(xxhash64(id, lit(seed + 17)), lit(day.toLong))).otherwise(lit(day.toLong))
    val timeOfDay = pmod(unix_timestamp(col("warc_ts")) - PageGen.BaseEpoch, lit(DaySeconds))
    val sec = lit(PageGen.BaseEpoch) + pageDay * DaySeconds + timeOfDay
    val header = concat(lit("<!--warc_ts:"), sec.cast("string"), lit("-->"))
    PageGen
      .clean(spark, n, domains, seed)
      .select(
        concat(regexp_replace(col("url"), "/p/\\d+$", "/p/"), id.cast("string")).as("url"),
        timestamp_seconds(sec).as("warc_ts"),
        encode(regexp_replace(decode(col("html"), "UTF-8"), lit("<!--warc_ts:\\d+-->"), header), "UTF-8")
          .as("html"),
        col("text"),
        col("lang")
      )
  }

  /** Distinct days (ISO dates) of a page table's `warc_ts`. */
  def days(pages: DataFrame): Set[String] =
    pages.select(to_date(col("warc_ts")).cast("string")).distinct().collect().map(_.getString(0)).toSet

  /** 19-column table shaped like the North Carolina voter register:
    * uniform picks per column, and `zip_code` determining `city` and
    * `state` (the dependencies the correction ensemble exploits).
    */
  def voters(spark: SparkSession, n: Long, seed: Int): DataFrame = {
    val h = xxhash64(col("id"), lit(seed))
    def mod(m: Long): Column = pmod(h, lit(m))
    def pick(salt: Int, vals: String*): Column =
      element_at(
        array(vals.map(lit): _*),
        (pmod(xxhash64(col("id"), lit(seed + salt)), lit(vals.size.toLong)) + 1).cast("int")
      )
    val zip = concat(lit("2"), pmod(xxhash64(col("id"), lit(seed + 1)), lit(70L)) + 100)
    spark
      .range(n)
      .select(
        col("id").as("row_id"),
        concat(lit("fn"), mod(997L)).as("first_name"),
        concat(lit("mn"), mod(97L)).as("middle_name"),
        concat(lit("ln"), mod(797L)).as("last_name"),
        (mod(70L) + 18).cast("string").as("age"),
        pick(11, "m", "f", "u").as("gender"),
        pick(12, "w", "b", "a", "i", "o").as("race"),
        pick(13, "dem", "rep", "una", "lib").as("party"),
        concat(mod(9999L), lit(" main st")).as("street_address"),
        zip.as("zip_code"),
        concat(lit("city"), zip).as("city"),
        concat(lit("st"), pmod(zip.cast("long"), lit(5L))).as("state"),
        concat(lit("area"), mod(30L)).as("area_code"),
        concat(lit("ph"), mod(9999L)).as("phone_number"),
        pick(14, "active", "inactive", "denied").as("status"),
        concat(lit("p"), mod(20L)).as("precinct"),
        concat(lit("m"), mod(12L)).as("municipality"),
        concat(lit("w"), mod(8L)).as("ward"),
        concat(lit("d"), mod(13L)).as("district")
      )
  }

  /** MCAR cell errors: each cell of `cols` is blanked with probability
    * `share`, chosen by a seeded hash of (row, column).
    */
  def blankCells(clean: DataFrame, cols: Seq[String], share: Double, seed: Int): DataFrame =
    cols.foldLeft(clean) { (df, c) =>
      val hit = pmod(xxhash64(col("row_id"), lit(c), lit(seed)), lit(10000L)) < lit((share * 10000).toLong)
      df.withColumn(c, when(hit, lit("")).otherwise(col(c)))
    }
}
