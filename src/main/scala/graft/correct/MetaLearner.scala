package graft.correct

import org.apache.spark.ml.classification.GBTClassifier
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** M8 meta-learner (reference `src/correction.py:847-937`): the
  * reference trains one AdaBoost(100) binary classifier per error
  * column over "pair features" — one score slot per corrector for each
  * (cell, candidate) pair — with label `candidate == user correction`,
  * then picks each unlabeled cell's best candidate by classifier
  * probability (W4 decision, tie-break max feature sum then candidate,
  * `src/ml_helpers.py:52-78`).
  *
  * Here: `spark.ml` GBTClassifier per column (pluggable stage; the
  * golden/deterministic path bypasses it per SURVEY.md §7 in favor of
  * the A13 feature-sum rule, which is also the fallback whenever a
  * column fails the training guards). The per-column loop is a driver
  * loop over the (few) error columns; training sets are bounded by the
  * labeling budget × candidates, so `fit` runs on tiny data while
  * `transform` is a distributed map over the unlabeled cells.
  *
  * Guards (reference edge cases `src/ml_helpers.py:81-108`,
  * `src/autogluon_imputer.py:90-92` A14):
  *  - fewer than `minLabels` labeled pairs, or a single label class
  *    -> fall back to A13 for that column.
  */
object MetaLearner {

  /** Pair features (reference `src/helpers.py:107-121`): pivot the
    * long suggestion relation into one feature column per corrector;
    * absent corrector scores are 0.
    */
  def pairFeatures(suggestions: DataFrame, correctors: Seq[String]): DataFrame =
    suggestions
      .groupBy("row_id", "col", "candidate")
      .pivot("corrector", correctors)
      .agg(first("score"))
      .na
      .fill(0.0, correctors)

  /** Train per column on the labeled cells, predict the unlabeled
    * cells; returns chosen corrections `(row_id, col, value)`.
    *
    * Synthetic training data (reference step 8): when `synthLabeled`
    * is given, its cells' pair features become extra training pairs
    * labeled by the row's own trusted value — but only for columns
    * that pass BOTH gates: the M10 ET gate (columns where a
    * cache-backed corrector already hit a user label drop synth to
    * not distort the classifier, `correction.py:859-861`) and the M9
    * usefulness gate (`synthGate` below).
    *
    * @param features     (row_id, col, candidate, featureCols...) — may
    *                     include the synthetic cells' features
    * @param labeled      user labels (row_id, col, clean_value)
    * @param synthLabeled synthetic truths (row_id, col, clean_value)
    *                     on error-free rows
    * @param etColumns    columns the M10 gate excludes from synth use
    */
  def trainPredict(
      features: DataFrame,
      featureCols: Seq[String],
      labeled: DataFrame,
      minLabels: Int = 10,
      seed: Long = 42L,
      synthLabeled: Option[DataFrame] = None,
      synthGateThreshold: Double = 0.9,
      etColumns: Seq[String] = Seq.empty,
      classifier: String = "GBT"
  ): DataFrame = {
    val featSum = featureCols.map(col).reduce(_ + _)
    // the pivot is consumed by many actions per column (class counts,
    // gate, fit, transform) — cache once or every action replays the
    // whole suggestion-union DAG
    val feats = features.cache()
    // iterate the reference's `columns_with_errors`: columns with REAL
    // error cells — synthetic cells exist only to supply training
    // pairs and must not spawn per-column training loops of their own
    val realCells = synthLabeled match {
      case Some(sl) => feats.join(sl.select("row_id", "col"), Seq("row_id", "col"), "left_anti")
      case None     => feats
    }
    val columns = realCells.select("col").distinct().collect().map(_.getString(0)).sorted

    // Per-column fits are INDEPENDENT and tiny (training pairs bounded
    // by budget x candidates), so each one is scheduler-latency-bound,
    // not resource-bound: a GBT fit is ~10 boosting rounds of small
    // Spark jobs whose wall time is dominated by job launch, not
    // compute. Overlapping the columns on a bounded driver pool keeps
    // the scheduler pipeline full — the multi-tenant pattern a real
    // cluster runs with the FAIR scheduler. Results are unchanged:
    // every column's computation is seeded and self-contained, and the
    // output union keeps the sorted-column order. The shared `feats`
    // cache is already materialized (the `columns` collect above ran
    // through it) so threads only read cached blocks.
    val perCol = graft.core.Par.mapOrdered(columns) { c =>
      val f = feats.filter(col("col") === c)
      val lab = labeled.filter(col("col") === c).select(col("row_id"), col("clean_value"))
      val userTrain = f
        .join(lab, "row_id")
        .withColumn("label", (col("candidate") === col("clean_value")).cast("double"))
        .cache()
      val synthLab = synthLabeled
        .map(_.filter(col("col") === c).select(col("row_id"), col("clean_value")))
      val synthTrain = synthLab.map { sl =>
        f.join(sl, "row_id")
          .withColumn("label", (col("candidate") === col("clean_value")).cast("double"))
          .cache()
      }
      val useSynth = synthTrain.exists { st =>
        !etColumns.contains(c) && synthGate(userTrain, st, featureCols, synthGateThreshold, seed)
      }
      val train = synthTrain match {
        case Some(st) if useSynth => userTrain.unionByName(st)
        case _                    => userTrain
      }
      val classCounts = train.groupBy("label").count().collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
      // predict only real unlabeled error cells: labeled rows are
      // user-corrected, synthetic rows are not errors at all
      val knownRows = synthLab match {
        case Some(sl) => lab.select("row_id").unionByName(sl.select("row_id"))
        case None     => lab.select("row_id")
      }
      val unlabeled = f.join(knownRows, Seq("row_id"), "left_anti")

      val decidedCol =
        if (classCounts.getOrElse(1.0, 0L) + classCounts.getOrElse(0.0, 0L) < minLabels || classCounts.size < 2) {
          // A13 fallback: max feature sum, lexicographic tie-break
          Correctors
            .decideBy(unlabeled.select(col("row_id"), col("candidate"), featSum.as("score")), Seq("row_id"))
            .select(col("row_id"), lit(c).as("col"), col("candidate").as("value"))
        } else {
          val assembler = new VectorAssembler().setInputCols(featureCols.toArray).setOutputCol("fvec")
          val model = fitClassifier(assembler.transform(train), classifier, classCounts.getOrElse(1.0, 0L), seed)
          val scored = model
            .transform(assembler.transform(unlabeled))
            .withColumn("proba", vector_to_array(col("probability")).getItem(1))
          val w = Window
            .partitionBy("row_id")
            .orderBy(col("proba").desc, featSum.desc, col("candidate").asc)
          scored
            .withColumn("rn", row_number().over(w))
            .filter(col("rn") === 1)
            .select(col("row_id"), lit(c).as("col"), col("candidate").as("value"))
        }
      userTrain.unpersist()
      synthTrain.foreach(_.unpersist())
      decidedCol
    }
    // materialize results before releasing the pivot cache
    val out = perCol.reduce(_ unionByName _).cache()
    out.count()
    feats.unpersist()
    out
  }

  /** Fit the per-column pair classifier. "GBT" is the default; "CV"
    * cross-validates a small GBT grid (reference
    * `hpo.cross_validated_estimator`: GridSearchCV over AdaBoost
    * n_estimators, `src/hpo.py:13-32` — here CrossValidator over
    * maxIter/maxDepth) scored by areaUnderPR; "CV_PRECISION" scores
    * the same grid by the positive class's PRECISION over hard
    * predictions — the reference's exact `scoring="precision"`
    * criterion, so model selection matches it when the two metrics
    * disagree. Both are guarded like the reference: too few positives
    * (<= 2) falls back to the plain model, as do degenerate folds
    * (`unlessDegenerateFolds`).
    */
  private def fitClassifier(
      train: DataFrame,
      classifier: String,
      positives: Long,
      seed: Long
  ): org.apache.spark.ml.classification.GBTClassificationModel = {
    val gbt = new GBTClassifier()
      .setFeaturesCol("fvec")
      .setLabelCol("label")
      .setMaxIter(10) // pair-feature spaces are tiny (|correctors| dims); more trees buy nothing
      .setMaxDepth(3)
      .setSeed(seed)
    if (!classifier.startsWith("CV") || positives <= 2) gbt.fit(train)
    else {
      import org.apache.spark.ml.tuning.{CrossValidator, ParamGridBuilder}
      import org.apache.spark.ml.evaluation.{BinaryClassificationEvaluator, MulticlassClassificationEvaluator}
      // the reference's grid is ONE axis (n_estimators [10,100,200],
      // fixed learning rate) — mirror it: boosting rounds only, depth
      // fixed at the default. Halves the fit count vs the former
      // {5,10,20}x{2,3} grid (the depth axis never changed a decision
      // on the pinned datasets; goldens re-verified exact) — the CV
      // stage is scheduler-latency-bound, so fits removed = time saved.
      val grid = new ParamGridBuilder()
        .addGrid(gbt.maxIter, Array(5, 10, 20))
        .build()
      // deterministic folds via a seeded row hash: the default kFold
      // random split depends on the input PARTITIONING, which would
      // make CV decisions vary with spark.sql.shuffle.partitions /
      // core count — a hash of the pair identity is stable everywhere.
      // The grid runs ~19 fits of ~20 boosting jobs each over a
      // budget-bounded training relation, so the fits are scheduler-
      // latency-bound: one partition makes every boosting job a single
      // task AND makes the tree fits partitioning-independent by
      // construction (sorted for a stable row order first).
      val foldTrain = train
        .repartition(1)
        .sortWithinPartitions("row_id", "candidate")
        .withColumn(
          "__fold",
          pmod(xxhash64(col("row_id"), col("candidate"), lit(seed)), lit(3)).cast("int")
        )
        .cache()
      val evaluator =
        if (classifier == "CV_PRECISION")
          // precision of the positive label over HARD predictions —
          // sklearn's scoring="precision" (zero predicted positives
          // scores 0, like sklearn's zero_division default)
          new MulticlassClassificationEvaluator()
            .setLabelCol("label")
            .setMetricName("precisionByLabel")
            .setMetricLabel(1.0)
        else new BinaryClassificationEvaluator().setLabelCol("label").setMetricName("areaUnderPR")
      val cv = new CrossValidator()
        .setEstimator(gbt)
        .setEvaluator(evaluator)
        .setEstimatorParamMaps(grid)
        .setNumFolds(3)
        .setFoldCol("__fold")
        // fits are independent single-task jobs over the same cached
        // partition; overlapping them hides the per-job scheduler
        // latency that dominates the grid (results unchanged: fixed
        // seed, fixed fold hash, argmax selection order preserved)
        .setParallelism(18)
        .setSeed(seed)
      try
        unlessDegenerateFolds(classifier, foldTrain, 3)(
          cv.fit(foldTrain).bestModel.asInstanceOf[org.apache.spark.ml.classification.GBTClassificationModel]
        )(gbt.fit(train))
      finally foldTrain.unpersist()
    }
  }

  /** The CV failures `fitClassifier` absorbs, checked up front on
    * `folds` (`label`, `__fold`): a fold with no rows (`CrossValidator`
    * rejects an empty validation fold), and under CV_PRECISION a
    * validation fold without a positive label (`precisionByLabel(1.0)`
    * is undefined there; `MulticlassMetrics` throws). Such folds fall
    * back to the plain fit, with a warning; any failure of `cv` itself
    * propagates.
    */
  private[correct] def unlessDegenerateFolds[M](classifier: String, folds: DataFrame, numFolds: Int)(cv: => M)(
      plain: => M
  ): M = {
    val hasPositive =
      folds.groupBy("__fold").agg(max(col("label") === 1.0)).collect().map(r => r.getInt(0) -> r.getBoolean(1))
    if (hasPositive.length == numFolds && (classifier != "CV_PRECISION" || hasPositive.forall(_._2))) cv
    else {
      val log = org.slf4j.LoggerFactory.getLogger(getClass)
      log.warn(s"$classifier: degenerate folds ${hasPositive.sorted.mkString(" ")}; fitting without cross-validation")
      plain
    }
  }

  /** M10 ET-gate (reference `src/helpers.py:123-138`): columns where a
    * cache-backed LLM corrector ever suggested the exact user label —
    * for those, the reference drops synthetic training features.
    */
  def etGateColumns(cacheSuggestions: DataFrame, labeled: DataFrame): Seq[String] =
    cacheSuggestions
      .join(labeled, Seq("row_id", "col"))
      .filter(col("candidate") === col("clean_value"))
      .select("col")
      .distinct()
      .collect()
      .map(_.getString(0))
      .toSeq
      .sorted

  /** M9 synth-usefulness gate (reference `src/ml_helpers.py:170-235`,
    * direction `user_data`): train the pair classifier on the
    * SYNTHETIC pairs alone and binary-predict the user-labeled pairs;
    * synthetic data is accepted iff the F1 of those predictions
    * reaches `threshold` — i.e. the synthetic pair distribution
    * transfers to the user-labeled one. Edge cases follow
    * `handle_edge_cases` (`ml_helpers.py:81-108`): no synthetic pairs
    * or a single synthetic class -> reject; synthetic pairs but no
    * user pairs -> accept (the unsupervised-cleaning case, which the
    * reference scores 1.0).
    *
    * Both inputs are pair relations (featureCols..., label) bounded by
    * budget x candidates — `fit` runs on tiny data.
    */
  def synthGate(
      userTrain: DataFrame,
      synthTrain: DataFrame,
      featureCols: Seq[String],
      threshold: Double = 0.9,
      seed: Long = 42L
  ): Boolean = {
    if (synthTrain.isEmpty) return false
    if (userTrain.isEmpty) return true
    val synthClasses = synthTrain.select("label").distinct().count()
    if (synthClasses < 2) return false

    val assembler = new VectorAssembler().setInputCols(featureCols.toArray).setOutputCol("fvec")
    val gbt = new GBTClassifier()
      .setFeaturesCol("fvec")
      .setLabelCol("label")
      .setMaxIter(10)
      .setMaxDepth(3)
      .setSeed(seed)
    val model = gbt.fit(assembler.transform(synthTrain))
    val agg = model
      .transform(assembler.transform(userTrain))
      .agg(
        sum(when(col("label") === 1.0 && col("prediction") === 1.0, 1).otherwise(0)).as("tp"),
        sum(when(col("label") === 0.0 && col("prediction") === 1.0, 1).otherwise(0)).as("fp"),
        sum(when(col("label") === 1.0 && col("prediction") === 0.0, 1).otherwise(0)).as("fn")
      )
      .head()
    val (tp, fp, fn) = (agg.getLong(0).toDouble, agg.getLong(1).toDouble, agg.getLong(2).toDouble)
    val f1 = if (2 * tp + fp + fn == 0) 0.0 else 2 * tp / (2 * tp + fp + fn)
    f1 >= threshold
  }
}
