package graft.correct

import graft.core.ValueModels
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The corrector ensemble, re-expressed as Spark jobs that each emit a
  * long-form `Suggestion(row_id, col, corrector, candidate, score)`
  * relation. The reference's per-corrector nested dicts
  * (`src/helpers.py:75-138`) are a single-machine pivot of this.
  *
  * Scale notes: every corrector is a join of the (error-fraction-sized)
  * error-cell relation against a counts model that has already been
  * reduced by `groupBy().count()` — the count models are broadcast-
  * joined, the big table is scanned once per model build, and nothing
  * ever iterates cells on the driver. The FD and vicinity-1 correctors
  * share one model, the order-1 pair counts (`allCounts`), and one
  * lookup into it (`pairCorrectors`).
  */
object Correctors {

  /** FD corrector (reference `fd_based_corrector`, `src/pdep.py:398-447`,
    * feature = norm_gpdep): for each order-1 FD whose rhs is the error
    * column, look up the error row's lhs value in the masked
    * conditional-count model and emit every co-occurring rhs value,
    * scored by the FD's norm_gpdep; scores for the same candidate from
    * different FDs sum (A10). The lookup is `pairCorrectors`' over the
    * pair counts of the FDs' columns.
    */
  def fdCorrector(
      df: DataFrame,
      errors: DataFrame,
      rowId: String,
      gpdeps: Map[String, (PdepStats, Double)],
      fds: Seq[Fd]
  ): DataFrame = {
    require(fds.forall(_.lhs.size == 1), s"fdCorrector takes order-1 FDs; got ${fds.map(_.key).mkString(", ")}")
    val cols = fds.flatMap(_.cols).distinct
    val scored = fds.distinct.map(fd => fd -> gpdeps.get(fd.key).fold(0.0)(_._2))
    pairCorrectors(df, errors, rowId, cols, allCounts(df, errors, rowId, cols), scored, vicinity1 = false)
  }

  /** Naive vicinity corrector, order 1 (reference
    * `vicinity_based_corrector_order_n`, `src/pdep.py:292-321`): for
    * every other column L of the error row, the conditional probability
    * of each rhs candidate given the row's L-value, from cell-masked
    * co-occurrence counts (`mine_all_counts`, `src/pdep.py:101-158`).
    * One feature (corrector name) per lhs column.
    */
  def vicinityCorrectorOrder1(
      df: DataFrame,
      errors: DataFrame,
      rowId: String,
      cols: Seq[String]
  ): DataFrame =
    pairCorrectors(df, errors, rowId, cols, allCounts(df, errors, rowId, cols), Nil, vicinity1 = true)

  /** The FD and vicinity-1 correctors from ONE error-cell lookup into
    * the order-1 pair counts (`allCounts`). The reference masks an FD
    * `lhs -> rhs` by rows with an error in {lhs, rhs}: exactly the
    * cell-level masking of the (lhs, rhs) pair. So the FD's suggestion
    * is the vicinity-1 lookup row for (lhs_col = lhs, rhs_col = rhs),
    * scored by the FD's norm_gpdep (`fdScores`, summed per candidate
    * across FDs) instead of `pr`. Each error cell pairs with its row's
    * other cells — current values, errors included (the reference's
    * `ed["vicinity"]` is the raw row); only the (pair, lhs value) groups
    * those cells look up leave the model, each whole, so `pr` stays
    * exact while the window and the join see error-sized relations.
    */
  def pairCorrectors(
      df: DataFrame,
      errors: DataFrame,
      rowId: String,
      cols: Seq[String],
      pairCounts: DataFrame,
      fdScores: Seq[(Fd, Double)],
      vicinity1: Boolean
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val fdModel = fdScores.map { case (fd, s) => (fd.lhs.head, fd.rhs, s) }.toDF("lhs_col", "rhs_col", "fd_score")
    val lookup = errorVicinity(df, errors, rowId, cols)
    val keys = Seq("lhs_col", "rhs_col", "lhs_val")
    val model = withPr(
      pairCounts
        .join(broadcast(lookup.select(keys.map(col): _*)), keys, "left_semi")
        .join(broadcast(fdModel), Seq("lhs_col", "rhs_col"), if (vicinity1) "left" else "inner")
    )
    val hits = model.join(broadcast(lookup), keys)
    val fd = hits
      .filter(col("fd_score").isNotNull)
      .groupBy(col("row_id"), col("rhs_col").as("col"), lit("fd").as("corrector"), col("candidate"))
      .agg(sum("fd_score").as("score"))
    val vicinity = hits.select(
      col("row_id"),
      col("rhs_col").as("col"),
      concat(lit("vicinity_1_"), col("lhs_col")).as("corrector"),
      col("candidate"),
      col("pr").as("score")
    )
    Seq(fd -> fdScores.nonEmpty, vicinity -> vicinity1)
      .collect { case (sugg, true) => sugg }
      .reduceOption(_ unionByName _)
      .getOrElse(emptySuggestions(spark))
  }

  /** Conditional probability `pr` of each candidate per lhs value. */
  private def withPr(pairCounts: DataFrame): DataFrame =
    pairCounts.withColumn("pr", col("cnt") / sum("cnt").over(Window.partitionBy("lhs_col", "rhs_col", "lhs_val")))

  /** Error cells `(row_id, rhs_col)` with their row's other cells. */
  private def errorVicinity(df: DataFrame, errors: DataFrame, rowId: String, cols: Seq[String]): DataFrame =
    errors
      .select(col("row_id"), col("col").as("rhs_col"))
      .join(Cells.melt(df, rowId, cols).toDF("row_id", "lhs_col", "lhs_val"), "row_id")
      .filter(col("lhs_col") =!= col("rhs_col"))

  /** Pdep-ranked vicinity corrector, order 1 (reference M4,
    * `src/pdep.py:450-499`): like the naive vicinity corrector but
    * only the `nBest` dependencies per error column survive, ranked by
    * gpdep descending (W3 top-k; deterministic lhs tie-break), and the
    * emitted feature is the conditional probability of the candidate
    * (the reference's default `pdep_features=['pr']`). One corrector
    * name per surviving (lhs -> rhs) dependency. The gpdep ranking and
    * the lookup read the same pair counts.
    */
  def vicinityCorrectorPdep(
      df: DataFrame,
      errors: DataFrame,
      rowId: String,
      cols: Seq[String],
      nBest: Int = 3
  ): DataFrame = {
    val errorCols = errors.select("col").distinct().collect().map(_.getString(0)).toSeq.sorted
    val fds = for { rhs <- errorCols; lhs <- cols if lhs != rhs } yield Fd(Seq(lhs), rhs)
    if (fds.isEmpty) return emptySuggestions(df.sparkSession)
    val counts = allCounts(df, errors, rowId, cols)
    val gp = Pdep.gpdepTable(counts, fds)
    val surviving: Set[String] = gp.toSeq
      .groupBy(_._2._1.fd.rhs)
      .flatMap { case (_, deps) =>
        deps
          .sortBy { case (key, (s, _)) => (-s.gpdep.getOrElse(Double.NegativeInfinity), key) }
          .take(nBest)
          .map(_._1)
      }
      .toSet

    errorVicinity(df, errors, rowId, cols)
      .filter(concat(col("lhs_col"), lit("->"), col("rhs_col")).isin(surviving.toSeq: _*))
      .join(broadcast(withPr(counts)), Seq("lhs_col", "rhs_col", "lhs_val"))
      .select(
        col("row_id"),
        col("rhs_col").as("col"),
        concat(lit("vicinity_pdep_"), col("lhs_col")).as("corrector"),
        col("candidate"),
        col("pr").as("score")
      )
  }

  /** A3 all-combination count model, order 1 (reference
    * `mine_all_counts`, `src/pdep.py:101-158`): cell-masked
    * co-occurrence counts for EVERY ordered (lhs_col, rhs_col) column
    * pair, mined in one melt + one self-join on row_id + one hash
    * aggregate. Error cells are excluded at cell granularity (either
    * side), matching the reference's per-cell masking.
    *
    * SCALE BOUNDARY: the self-join materializes O(rows x cols^2)
    * pairs — sized for correction tables (the reference's are <= 20
    * columns x 10^4..10^6 rows), NOT for the web-page table. Wide or
    * web-scale inputs must use a projected per-FD count model
    * (`Pdep.fdCounts`) or the single-scan page model
    * (`PagePipeline.repair`); the guard makes the boundary explicit.
    */
  def allCounts(df: DataFrame, errors: DataFrame, rowId: String, cols: Seq[String]): DataFrame = {
    require(
      cols.size <= 64,
      s"allCounts is O(rows*cols^2) by design (correction-table sized); got ${cols.size} columns — " +
        "use Pdep.fdCounts projections or the pages single-scan model at this width"
    )
    val masked = Cells
      .melt(df, rowId, cols)
      .join(errors.select("row_id", "col"), Seq("row_id", "col"), "left_anti")
    val a = masked.select(col("row_id"), col("col").as("lhs_col"), col("value").as("lhs_val"))
    val b = masked.select(col("row_id"), col("col").as("rhs_col"), col("value").as("candidate"))
    a.join(b, "row_id")
      .filter(col("lhs_col") =!= col("rhs_col"))
      .groupBy("lhs_col", "rhs_col", "lhs_val", "candidate")
      .agg(count(lit(1)).as("cnt"))
  }

  /** A3 all-combination count model, order 2 (reference
    * `mine_all_counts` with `order=2`, `src/pdep.py:101-158`):
    * cell-masked counts keyed by an UNORDERED lhs column pair plus a
    * rhs column. One melt + a 3-way self-join on row_id + one hash
    * aggregate; lhs_col_a < lhs_col_b de-duplicates combinations.
    *
    * SCALE BOUNDARY: O(rows x cols^3) pairs — see `allCounts`; the
    * tighter guard reflects the cubic blowup.
    */
  def allCountsOrder2(df: DataFrame, errors: DataFrame, rowId: String, cols: Seq[String]): DataFrame = {
    require(
      cols.size <= 32,
      s"allCountsOrder2 is O(rows*cols^3) by design (correction-table sized); got ${cols.size} columns"
    )
    val masked = Cells
      .melt(df, rowId, cols)
      .join(errors.select("row_id", "col"), Seq("row_id", "col"), "left_anti")
    val a = masked.select(col("row_id"), col("col").as("lhs_col_a"), col("value").as("lhs_val_a"))
    val b = masked.select(col("row_id"), col("col").as("lhs_col_b"), col("value").as("lhs_val_b"))
    val r = masked.select(col("row_id"), col("col").as("rhs_col"), col("value").as("candidate"))
    a.join(b, "row_id")
      .filter(col("lhs_col_a") < col("lhs_col_b"))
      .join(r, "row_id")
      .filter(col("rhs_col") =!= col("lhs_col_a") && col("rhs_col") =!= col("lhs_col_b"))
      .groupBy("lhs_col_a", "lhs_col_b", "rhs_col", "lhs_val_a", "lhs_val_b", "candidate")
      .agg(count(lit(1)).as("cnt"))
  }

  /** Naive vicinity corrector, order 2 (reference
    * `vicinity_based_corrector_order_n` with n=2): conditional pr of
    * each candidate given the error row's values in an lhs column
    * PAIR; one corrector name per pair.
    */
  def vicinityCorrectorOrder2(
      df: DataFrame,
      errors: DataFrame,
      rowId: String,
      cols: Seq[String]
  ): DataFrame = {
    val cells = Cells.melt(df, rowId, cols)
    val counts = allCountsOrder2(df, errors, rowId, cols)
    val wm = Window.partitionBy("lhs_col_a", "lhs_col_b", "rhs_col", "lhs_val_a", "lhs_val_b")
    val countsPr = counts.withColumn("pr", col("cnt") / sum("cnt").over(wm))

    val ca = cells.toDF("row_id", "lhs_col_a", "lhs_val_a")
    val cb = cells.toDF("row_id", "lhs_col_b", "lhs_val_b")
    val errLhs = errors
      .select(col("row_id"), col("col").as("rhs_col"))
      .join(ca, "row_id")
      .join(cb, "row_id")
      .filter(col("lhs_col_a") < col("lhs_col_b"))
      .filter(col("rhs_col") =!= col("lhs_col_a") && col("rhs_col") =!= col("lhs_col_b"))

    errLhs
      .join(broadcast(countsPr), Seq("lhs_col_a", "lhs_col_b", "rhs_col", "lhs_val_a", "lhs_val_b"))
      .select(
        col("row_id"),
        col("rhs_col").as("col"),
        concat(lit("vicinity_2_"), col("lhs_col_a"), lit("_"), col("lhs_col_b")).as("corrector"),
        col("candidate"),
        col("pr").as("score")
      )
  }

  /** A3 all-combination count model, ARBITRARY order n (reference
    * `mine_all_counts` takes any `order`, `src/pdep.py:101-158`):
    * cell-masked counts keyed by an UNORDERED n-set of lhs columns
    * plus a rhs column. One melt + an (n+1)-way self-join on row_id +
    * one hash aggregate; `lhs_col_1 < … < lhs_col_n` de-duplicates
    * combinations. Output schema: `lhs_col_1..n, rhs_col,
    * lhs_val_1..n, candidate, cnt`.
    *
    * SCALE BOUNDARY: O(rows × cols^(n+1)) pairs — see `allCounts`;
    * the guard tightens with the order (the reference's shipped
    * configs stop at order 2; arbitrary n exists for API parity).
    */
  def allCountsOrderN(df: DataFrame, errors: DataFrame, rowId: String, cols: Seq[String], order: Int): DataFrame = {
    require(order >= 1, s"order must be >= 1, got $order")
    require(
      math.pow(cols.size.toDouble, (order + 1).toDouble) <= math.pow(64.0, 2.0),
      s"allCountsOrderN is O(rows*cols^${order + 1}) by design (correction-table sized); " +
        s"${cols.size} columns at order $order exceeds the 64^2 combination budget"
    )
    val masked = Cells
      .melt(df, rowId, cols)
      .join(errors.select("row_id", "col"), Seq("row_id", "col"), "left_anti")
    val lhs = (1 to order)
      .map(i => masked.select(col("row_id"), col("col").as(s"lhs_col_$i"), col("value").as(s"lhs_val_$i")))
      .reduceLeft(_.join(_, "row_id"))
      .filter((2 to order).map(i => col(s"lhs_col_${i - 1}") < col(s"lhs_col_$i")).foldLeft(lit(true))(_ && _))
    val r = masked.select(col("row_id"), col("col").as("rhs_col"), col("value").as("candidate"))
    val keyCols =
      (1 to order).map(i => s"lhs_col_$i") ++ Seq("rhs_col") ++ (1 to order).map(i => s"lhs_val_$i") :+ "candidate"
    lhs
      .join(r, "row_id")
      .filter((1 to order).map(i => col("rhs_col") =!= col(s"lhs_col_$i")).reduce(_ && _))
      .groupBy(keyCols.map(col): _*)
      .agg(count(lit(1)).as("cnt"))
  }

  /** Order-3 alias of [[allCountsOrderN]]. */
  def allCountsOrder3(df: DataFrame, errors: DataFrame, rowId: String, cols: Seq[String]): DataFrame =
    allCountsOrderN(df, errors, rowId, cols, 3)

  /** Naive vicinity corrector for ARBITRARY order n (reference
    * `vicinity_based_corrector_order_n`): conditional pr of each
    * candidate given the error row's values in an lhs column n-SET;
    * one corrector name per set (`vicinity_<n>_<c1>_…_<cn>`, columns
    * ascending). Equals `vicinityCorrectorOrder1/2` at n=1/2 (pinned
    * by EnsembleSpec) — those stay as the hot, name-compatible paths.
    */
  def vicinityCorrectorOrderN(
      df: DataFrame,
      errors: DataFrame,
      rowId: String,
      cols: Seq[String],
      order: Int
  ): DataFrame = {
    val cells = Cells.melt(df, rowId, cols)
    val counts = allCountsOrderN(df, errors, rowId, cols, order)
    val keyNoVal = (1 to order).map(i => s"lhs_col_$i") :+ "rhs_col"
    val keyAll = keyNoVal ++ (1 to order).map(i => s"lhs_val_$i")
    val wm = Window.partitionBy(keyAll.map(col): _*)
    val countsPr = counts.withColumn("pr", col("cnt") / sum("cnt").over(wm))

    val errLhs = (1 to order)
      .map(i => cells.toDF("row_id", s"lhs_col_$i", s"lhs_val_$i"))
      .foldLeft(errors.select(col("row_id"), col("col").as("rhs_col")))(_.join(_, "row_id"))
      .filter((2 to order).map(i => col(s"lhs_col_${i - 1}") < col(s"lhs_col_$i")).foldLeft(lit(true))(_ && _))
      .filter((1 to order).map(i => col("rhs_col") =!= col(s"lhs_col_$i")).reduce(_ && _))

    val nameParts: Seq[Column] =
      lit(s"vicinity_${order}_") +: (1 to order).flatMap(i =>
        (if (i > 1) Seq(lit("_")) else Seq.empty[Column]) :+ col(s"lhs_col_$i")
      )
    errLhs
      .join(broadcast(countsPr), keyAll)
      .select(
        col("row_id"),
        col("rhs_col").as("col"),
        concat(nameParts: _*).as("corrector"),
        col("candidate"),
        col("pr").as("score")
      )
  }

  /** Value corrector (reference `src/correction.py:148-219`): value
    * models mined from the labeled (error, correction) pairs on the
    * driver (bounded by the labeling budget, ~20 rows), broadcast, and
    * replayed over every error cell of the same column.
    */
  def valueCorrector(
      errors: DataFrame,
      labeledPairs: Map[String, Seq[(String, String)]] // col -> (old,new) pairs
  ): DataFrame = {
    val spark = errors.sparkSession
    import spark.implicits._
    val models: Map[String, ValueModels] =
      labeledPairs.map { case (c, pairs) => c -> ValueModels.fromPairs(pairs) }
    val bc = spark.sparkContext.broadcast(models)
    errors
      .select("row_id", "col", "error_value")
      .as[(Long, String, String)]
      .flatMap { case (rid, c, errVal) =>
        bc.value.get(c) match {
          case None => Iterator.empty
          case Some(m) =>
            for {
              (corrector, sugg) <- m.suggest(errVal).iterator
              (candidate, pr) <- sugg.iterator
            } yield Suggestion(rid, c, corrector, candidate, pr)
        }
      }
      .toDF()
  }

  /** Count-based conditional imputer — the deterministic replacement for
    * the reference's AutoGluon `auto_instance` model (SURVEY.md §2.8 M1):
    * P(candidate | no context) = global frequency of the candidate in
    * the error column among non-error cells, with the P5 filters of the
    * reference applied (score >= 0.001, candidate != error value,
    * `src/correctors.py:91-95`).
    */
  def frequencyImputer(df: DataFrame, errors: DataFrame, rowId: String, cols: Seq[String]): DataFrame = {
    val cells = Cells.melt(df, rowId, cols)
    val masked = cells.join(errors.select("row_id", "col"), Seq("row_id", "col"), "left_anti")
    val freq = masked
      .groupBy(col("col"), col("value").as("candidate"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy("col")
    val pr = freq.withColumn("score", col("cnt") / sum("cnt").over(w)).drop("cnt")
    errors
      .join(broadcast(pr), Seq("col"))
      .filter(col("score") >= 0.001 && col("candidate") =!= col("error_value"))
      .select(col("row_id"), col("col"), lit("imputer").as("corrector"), col("candidate"), col("score"))
  }

  /** Frozen LLM-cache corrector (reference M5/M6: the sqlite cache of
    * pre-fetched answers, `src/helpers.py:141-313`, becomes a static
    * lookup table; no network ever). `cache` columns:
    * (row_id, col, candidate, score, corrector).
    */
  def cacheCorrector(errors: DataFrame, cache: DataFrame): DataFrame =
    errors
      .select("row_id", "col")
      .join(cache, Seq("row_id", "col"))
      .select("row_id", "col", "corrector", "candidate", "score")

  /** Cross-row entity-match corrector — the deterministic, within-table
    * share of the reference's llm_master member (`src/helpers.py:357-373`):
    * where llm_master serializes the error row and lets a GPT recall the
    * masked value (world knowledge, unreproducible offline), this
    * corrector mines what the table itself knows about the error row's
    * identity tokens. Every trusted cell tokenizes into lowercase
    * alphanumeric runs; for each (token, column) the corrector keeps the
    * conditional distribution of trusted values among rows carrying the
    * token. An error cell then scores each candidate by the sum over
    * the row's tokens of P(candidate | token), normalized per cell.
    * This one formulation covers both powers of llm_master:
    *   - duplicate records: a near-unique token (df=2..k) shared with
    *     the entity's other record yields P = 1 for that record's value;
    *   - identity prefixes: a hot token like a phone area code yields
    *     the city majority among its rows (the "310 -> los angeles"
    *     inference GPT does from world knowledge).
    *
    * Scale shape: everything reduces by key BEFORE any join — token df
    * is one hash aggregation, the conditional model is a (token, col,
    * value) count. No row-pair relation ever forms, so there is no
    * quadratic path for ANY token frequency (unlike rare-token pair
    * blocking). Guards on the model size: tokens above `maxDfFrac` of
    * rows are stopwords and dropped; a (token, col, value) entry
    * survives only with count >= 2 (a repeated, informative pairing) or
    * token df <= maxRareDf (the duplicate-record path) — this bounds
    * the per-(token, col) group for near-unique columns under hot
    * tokens; finally only the `topK` values per (token, col) join back
    * to error cells, bounding the fan-out per error token.
    */
  def entityCorrector(
      df: DataFrame,
      errors: DataFrame,
      rowId: String,
      cols: Seq[String],
      maxRareDf: Int = 8,
      minTokenLen: Int = 2,
      topK: Int = 5,
      maxDfFrac: Double = 0.5
  ): DataFrame = {
    val nRows = df.count()
    val cells = Cells.melt(df, rowId, cols)
    // error cells are untrusted: they contribute neither identity
    // tokens nor conditional evidence
    val trusted = cells
      .join(errors.select("row_id", "col"), Seq("row_id", "col"), "left_anti")
      .filter(col("value").isNotNull && col("value") =!= "")
    val rowTokens = trusted
      .select(col("row_id"), explode(split(lower(col("value")), "[^a-z0-9]+")).as("token"))
      .filter(length(col("token")) >= minTokenLen)
      .distinct()
    val dfCounts = rowTokens
      .groupBy("token")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= lit((nRows * maxDfFrac).toLong))
    val keptTokens = rowTokens.join(dfCounts, "token")
    // conditional model: P(value | token) per column, over trusted cells
    val pairs = keptTokens
      .join(trusted.withColumnRenamed("value", "candidate"), "row_id")
      .groupBy("token", "df", "col", "candidate")
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2 || col("df") <= maxRareDf)
    val wTokCol = Window.partitionBy("token", "col")
    val wTokColRank = wTokCol.orderBy(col("cnt").desc, col("candidate").asc)
    // per-token pr is rounded into a decimal before the sums so every
    // aggregate is order-free — bit-identical across partitionings and
    // engines (the q59 oracle recomputes the same algorithm in DuckDB)
    val model = pairs
      .withColumn("tot", sum("cnt").over(wTokCol))
      .withColumn("rk", row_number().over(wTokColRank))
      .filter(col("rk") <= topK)
      .select(
        col("token"),
        col("col"),
        col("candidate"),
        round(col("cnt") / col("tot"), 9).cast("decimal(28,9)").as("pr")
      )
    val errTokens = errors
      .select(col("row_id"), col("col"))
      .join(rowTokens, "row_id")
    val summed = errTokens
      .join(model, Seq("token", "col"))
      .groupBy("row_id", "col", "candidate")
      .agg(sum("pr").as("s"))
    val wCell = Window.partitionBy("row_id", "col")
    summed
      .withColumn("score", col("s").cast("double") / sum("s").over(wCell).cast("double"))
      .select(
        col("row_id"),
        col("col"),
        lit("entity").as("corrector"),
        col("candidate"),
        col("score")
      )
  }

  def emptySuggestions(spark: SparkSession): DataFrame = {
    import spark.implicits._
    spark.emptyDataset[Suggestion].toDF()
  }

  /** A13 decision rule (reference fallback `src/correction.py:903-910`
    * + tie-break `src/ml_helpers.py:63-74`, standardized per SURVEY.md
    * §7): per cell, pick the candidate maximizing the sum of corrector
    * scores; ties break lexicographically on the candidate.
    */
  def decide(suggestions: DataFrame): DataFrame =
    decideBy(suggestions, Seq("row_id", "col"))
      .select(col("row_id"), col("col"), col("candidate").as("value"))

  /** A13 generalized over arbitrary key columns. */
  def decideBy(suggestions: DataFrame, keys: Seq[String]): DataFrame = {
    val summed = suggestions
      .groupBy((keys :+ "candidate").map(col): _*)
      .agg(sum("score").as("feature_sum"))
    val w = Window
      .partitionBy(keys.map(col): _*)
      .orderBy(col("feature_sum").desc, col("candidate").asc)
    summed
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .drop("rn", "feature_sum")
  }

  /** W1 greedy labeling sample (reference `src/correction.py:295-301`):
    * rows ranked by detected-error count descending, deterministic
    * ascending row_id tie-break (the reference shuffles to break index
    * order; a keyed tie-break is the reproducible analog), take the
    * labeling budget k. Returns (row_id, err_cnt).
    */
  def greedySample(errors: DataFrame, k: Int): DataFrame =
    errors
      .groupBy("row_id")
      .agg(count(lit(1)).as("err_cnt"))
      .orderBy(col("err_cnt").desc, col("row_id").asc)
      .limit(k)

  /** W2 Baran-style labeling sample (reference
    * `src/correction.py:303-346`): iterative draw where each remaining
    * row scores the product over its error cells of
    * exp(freq(value in its column among remaining error cells) /
    * n_remaining_cells); the argmax row (ties: smaller row_id) is
    * drawn and its cells leave the pool. The loop is inherently
    * sequential and k is the labeling budget (~20), so the draw runs
    * on the driver over a capped candidate set: the `candidateCap`
    * rows with the most errors (W1 order) — error cells outside the
    * cap can never beat cap members under this monotone score.
    */
  def baranSample(errors: DataFrame, k: Int, candidateCap: Int = 10000): Seq[Long] = {
    val top = greedySample(errors, candidateCap).select("row_id")
    val cells = errors
      .join(top, "row_id")
      .select("row_id", "col", "error_value")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), Option(r.getString(2)).getOrElse("")))
    val byRow = cells.groupBy(_._1)
    val freq = scala.collection.mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
    cells.foreach { case (_, c, v) => freq((c, v)) += 1 }
    var remainingCells = cells.length.toLong
    val remainingRows = scala.collection.mutable.SortedSet(byRow.keys.toSeq: _*)
    val picked = scala.collection.mutable.ArrayBuffer.empty[Long]
    while (picked.length < k && remainingRows.nonEmpty) {
      var bestRow = -1L
      var bestScore = Double.NegativeInfinity
      for (r <- remainingRows) {
        // log-space product: sum of freq/remaining over the row's cells
        val s = byRow(r).iterator.map { case (_, c, v) => freq((c, v)).toDouble / remainingCells }.sum
        if (s > bestScore || (s == bestScore && r < bestRow)) { bestScore = s; bestRow = r }
      }
      picked += bestRow
      remainingRows -= bestRow
      byRow(bestRow).foreach { case (_, c, v) => freq((c, v)) -= 1; remainingCells -= 1 }
      if (remainingCells == 0) remainingCells = 1
    }
    picked.toSeq
  }

  /** User-label overlay: labeled corrections always win
    * (`clean_with_user_input`, `src/correction.py:940-951`).
    */
  def overlayUserLabels(decided: DataFrame, userLabels: DataFrame): DataFrame = {
    val u = userLabels.select(col("row_id"), col("col"), col("value").as("user_value"))
    decided
      .join(u, Seq("row_id", "col"), "full_outer")
      .select(col("row_id"), col("col"), coalesce(col("user_value"), col("value")).as("value"))
  }

  /** Cell-exact evaluation as a one-row DataFrame (reference
    * `src/dataset.py:249-272`): detection & correction P/R/F1 from one
    * left join of the emitted corrections against the actual-error
    * cells, plus the raw TP/size counters. Fully declarative — the two
    * counts and six ratios come out of a single aggregate over the
    * (error-fraction-sized) join, no driver loop.
    */
  def evaluateDF(corrections: DataFrame, actualErrors: DataFrame): DataFrame = {
    val a = actualErrors.select(col("row_id"), col("col"), col("clean_value"))
    val c = corrections.select(col("row_id"), col("col"), col("value"))
    val nActual = actualErrors.select(count(lit(1)).as("n_actual"))
    val agg = c
      .join(a, Seq("row_id", "col"), "left")
      .agg(
        count(lit(1)).as("output_size"),
        coalesce(sum(when(col("clean_value").isNotNull, 1L)), lit(0L)).as("ed_tp"),
        coalesce(sum(when(col("clean_value") === col("value"), 1L)), lit(0L)).as("ec_tp")
      )
    def prf(tp: Column, prefix: String): Seq[Column] = {
      val p = when(col("output_size") === 0, 0.0).otherwise(tp / col("output_size"))
      val r = when(col("n_actual") === 0, 0.0).otherwise(tp / col("n_actual"))
      val f = when(p + r === 0.0, 0.0).otherwise(lit(2.0) * p * r / (p + r))
      Seq(round(p, 6).as(s"${prefix}_p"), round(r, 6).as(s"${prefix}_r"), round(f, 6).as(s"${prefix}_f"))
    }
    agg
      .crossJoin(nActual)
      .select(
        col("output_size") +: col("n_actual") +: col("ed_tp") +: col("ec_tp") +:
          (prf(col("ed_tp"), "ed") ++ prf(col("ec_tp"), "ec")): _*
      )
  }

  /** Cell-exact evaluation (reference `src/dataset.py:249-272`):
    * detection & correction precision/recall/F1 as five scalars from one
    * full-outer join of corrections against actual errors.
    */
  def evaluate(corrections: DataFrame, actualErrors: DataFrame): Map[String, Double] = {
    val a = actualErrors.select(col("row_id"), col("col"), col("clean_value"))
    val c = corrections.select(col("row_id"), col("col"), col("value"))
    val j = c.join(a, Seq("row_id", "col"), "left")
    val row = j
      .agg(
        count(lit(1)).as("output_size"),
        sum(when(col("clean_value").isNotNull, 1L).otherwise(0L)).as("ed_tp"),
        sum(when(col("clean_value") === col("value"), 1L).otherwise(0L)).as("ec_tp")
      )
      .head()
    val outputSize = row.getLong(0).toDouble
    val edTp = row.getLong(1).toDouble
    val ecTp = Option(row.get(2)).map(_.asInstanceOf[Long].toDouble).getOrElse(0.0)
    val nActual = actualErrors.count().toDouble
    def prf(tp: Double): (Double, Double, Double) = {
      val p = if (outputSize == 0) 0.0 else tp / outputSize
      val r = if (nActual == 0) 0.0 else tp / nActual
      val f = if (p + r == 0) 0.0 else 2 * p * r / (p + r)
      (p, r, f)
    }
    val (edP, edR, edF) = prf(edTp)
    val (ecP, ecR, ecF) = prf(ecTp)
    Map("ed_p" -> edP, "ed_r" -> edR, "ed_f" -> edF, "ec_p" -> ecP, "ec_r" -> ecR, "ec_f" -> ecF)
  }
}
