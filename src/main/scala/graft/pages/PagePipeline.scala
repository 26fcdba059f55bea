package graft.pages

import graft.rollup.Rollup
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The north-rule pipeline: rule-based error detection -> corrector
  * ensemble repair -> tiered rollup, over the `(url, warc_ts, html,
  * text, lang)` page table.
  *
  * Repair is Mimir's per-cell correction recast as partition-parallel
  * typed DataFrame jobs (SURVEY.md §7 determinism policy):
  *  - `text`: restored byte-identically from the html body
  *    (whole-cell replacement with an observed value only — the
  *    per-url byte-identity invariant holds by construction);
  *  - `warc_ts`: re-parsed from the html header comment;
  *  - `lang`: the FD corrector over domain->lang, which here reduces
  *    to the domain's majority lang: detection masks exactly the
  *    non-majority cells, so the masked count model keeps one
  *    candidate per domain and the A13 decision always picks it.
  *
  * Scan discipline (the property that matters at 10^12 rows): the big
  * table is scanned exactly TWICE end to end —
  *   1. one domain->lang count model (a single hash aggregate, tiny
  *      result) from which the majority-lang model derives;
  *   2. the single output pass that flags + repairs every cell with
  *      pure expressions and one broadcast join (majority model).
  * Everything else operates on error-fraction-sized or
  * model-sized relations.
  */
object PagePipeline {

  private def flagCols(majorityJoined: DataFrame): DataFrame =
    majorityJoined
      .withColumn("__ts_bad", col("warc_ts") <= timestamp_seconds(lit(0L)))
      .withColumn("__text_bad", col("text") === "" && length(col("html")) > 0)
      .withColumn("__lang_bad", col("lang") =!= col("__majority_lang"))

  /** Domain-majority lang model from a (domain, lang, cnt) count
    * model: per-domain argmax with lexicographic tie-break (tiny
    * relation, broadcast by callers).
    */
  private def majorityLang(counts: DataFrame): DataFrame = {
    val w = Window.partitionBy("domain").orderBy(col("cnt").desc, col("lang").asc)
    counts
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("domain"), col("lang").as("__majority_lang"))
  }

  private def withIdDomain(pages: DataFrame): DataFrame =
    PageGen.withRowId(pages).withColumn("domain", PageGen.domainOf("url"))

  /** Rule-based detection (SURVEY.md §2.1 S7): returns the standard
    * error-cell relation `(row_id, col, error_value)` in a single pass
    * over the flagged table (conditional-array explode, no unions of
    * separate scans).
    *  - warc_ts at/before epoch -> mangled timestamp;
    *  - empty text with non-empty html -> nulled text;
    *  - lang differing from its domain's majority lang -> mislabel.
    */
  def detectErrors(pages: DataFrame): DataFrame = {
    val flagged = flagCols(withIdDomain(pages).join(broadcast(majorityLang(langCounts(pages))), "domain"))
    flagged
      .select(
        col("row_id"),
        explode(
          expr(
            """filter(array(
                 if(__ts_bad,   struct('warc_ts' as col, cast(warc_ts as string) as error_value), null),
                 if(__text_bad, struct('text'    as col, text                    as error_value), null),
                 if(__lang_bad, struct('lang'    as col, lang                    as error_value), null)
               ), x -> x is not null)"""
          )
        ).as("e")
      )
      .select(col("row_id"), col("e.col").as("col"), col("e.error_value").as("error_value"))
  }

  /** The (domain, lang) count model over RAW rows — the single model
    * scan every repair derives from. Sum-mergeable: counts over a
    * union of batches = summed per-batch counts, which is what makes
    * the model incrementally maintainable (`PageModel.update`) with
    * NO full-table rescan per continuous-rollup update.
    */
  def langCounts(pages: DataFrame): DataFrame =
    withIdDomain(pages).groupBy("domain", "lang").agg(count(lit(1)).as("cnt"))

  /** Repair all detected errors; returns the corrected page table with
    * the original five columns. Computes the count model from `pages`
    * itself — for partition-pruned incremental repair pass a
    * full-table model to `repairWithCounts` instead.
    */
  def repair(pages: DataFrame): DataFrame =
    repairWithCounts(pages, langCounts(pages))

  /** Repair with an externally supplied (domain, lang, cnt) count
    * model. The model must cover (at least) the domains present in
    * `pages`; decisions then depend only on the model, so repairing a
    * pruned subset of the table equals restricting a full-table repair
    * to that subset — the exactness contract incremental tier updates
    * rely on.
    */
  def repairWithCounts(pages: DataFrame, counts: DataFrame): DataFrame = {
    val flagged = flagCols(withIdDomain(pages).join(broadcast(majorityLang(counts)), "domain"))

    // single output pass: pure-expression repairs + one broadcast join
    val htmlStr = decode(col("html"), "UTF-8")
    flagged.select(
      col("url"),
      when(
        col("__ts_bad"),
        timestamp_seconds(regexp_extract(htmlStr, "<!--warc_ts:(\\d+)-->", 1).cast("long"))
      ).otherwise(col("warc_ts")).as("warc_ts"),
      col("html"),
      when(col("__text_bad"), regexp_extract(htmlStr, "(?s)<body>(.*)</body>", 1))
        .otherwise(col("text")).as("text"),
      when(col("__lang_bad"), col("__majority_lang")).otherwise(col("lang")).as("lang")
    )
  }

  /** Corrected pages -> hourly tier keyed by domain, with point count,
    * byte size, and lang histogram.
    */
  def hourlyRollup(pages: DataFrame): DataFrame = {
    val repaired = repair(pages)
    Rollup.fromRaw(
      repaired.withColumn("domain", PageGen.domainOf("url")),
      Seq("domain"),
      "warc_ts",
      "1h",
      length(col("html")).cast("long"),
      langCol = Some("lang")
    )
  }

  /** Fixed-size smoke entry used by `SparkEntry.entry` / q25. */
  def hourlyRollupFixed(spark: SparkSession, nPages: Long): DataFrame = {
    val dirty = PageGen.corrupt(PageGen.clean(spark, nPages))
    hourlyRollup(dirty).drop("lang_hist")
  }
}
