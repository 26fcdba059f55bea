package graft.correct

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

/** A functional-dependency candidate lhs -> rhs over named columns
  * (reference `FDTuple`, `src/pdep.py:12`).
  */
case class Fd(lhs: Seq[String], rhs: String) {
  def cols: Seq[String] = lhs :+ rhs
  def key: String = lhs.mkString(",") + "->" + rhs
}

/** pdep / gpdep statistics per FD. `None` fields mirror the
  * reference's `None` returns when every row is masked by errors.
  */
case class PdepStats(
    fd: Fd,
    n: Long, // error-corrected row count
    pdepB: Option[Double],
    pdepAB: Option[Double],
    epdep: Option[Double],
    gpdep: Option[Double]
)

/** Probabilistic functional-dependency statistics on Spark.
  *
  * Re-derivation of the reference's pdep machinery
  * (`src/pdep.py:160-290`) as DataFrame aggregations:
  *
  *   pdep(B)    = sum_b count(b)^2 / N^2           (pdep_0, :215-235)
  *   pdep(A,B)  = (sum_{a,b} count(a,b)^2 / count(a)) / N   (:238-263)
  *   E[pdep]    = pdep(B) + (dA-1)/(N-1) * (1-pdep(B))      (:160-185)
  *   gpdep      = pdep(A,B) - E[pdep(A,B)]                  (:266-289)
  *
  * with N = rows that contain no detected error in lhs ∪ rhs
  * (`error_corrected_row_count`, :188-211); all counts computed over
  * the same masked row set (`fast_fd_counts`, :24-52).
  *
  * All four statistics derive from four sums over a count relation,
  * taken in one grouped aggregation (`sums`). Order-1 FDs read them
  * off the cell-masked pair counts (`Correctors.allCounts`, the
  * reference's `mine_all_counts`), one group per (lhs_col, rhs_col),
  * so the gpdep of any set of FDs costs one aggregation and one
  * collect; a single FD of any order reads them off its `fdCounts`.
  */
object Pdep {

  /** Conditional counts for one FD over the error-masked rows:
    * columns `lhs..., rhs, cnt, lhs_cnt` where `lhs_cnt` is the
    * marginal count of the lhs value combination.
    */
  def fdCounts(df: DataFrame, errors: DataFrame, rowId: String, fd: Fd): DataFrame = {
    val masked = Cells.dropRowsWithErrorIn(df, errors, rowId, fd.cols)
    val c = masked.groupBy(fd.cols.map(col): _*).agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(fd.lhs.map(col): _*)
    c.withColumn("lhs_cnt", sum(col("cnt")).over(w))
  }

  /** All four statistics for one FD: one scan of the data (the counts
    * aggregation) + one aggregate over the tiny counts relation.
    */
  def stats(df: DataFrame, errors: DataFrame, rowId: String, fd: Fd): PdepStats =
    statsFromCounts(fdCounts(df, errors, rowId, fd), fd)

  /** Statistics from a precomputed masked counts relation
    * (`fd.lhs..., fd.rhs, cnt`).
    */
  def statsFromCounts(counts: DataFrame, fd: Fd): PdepStats =
    toStats(fd, Some(sums(counts, Nil, fd.lhs, fd.rhs).head()))

  /** Per group of `keys`: `n` = Σcnt, `sp` = Σcnt²/lhs_cnt, `sb` =
    * Σcnt·rhs_cnt (= Σ over rhs values of their marginal²) and `da` =
    * distinct lhs values, a null lhs value counting as one. One shuffle
    * by `keys`: the lhs and rhs marginals are peer-group windows inside
    * each group, and the grouped aggregation reuses the partitioning.
    */
  private def sums(counts: DataFrame, keys: Seq[String], lhs: Seq[String], rhs: String): DataFrame = {
    val byKey = Window.partitionBy(keys.map(col): _*)
    val byLhs = byKey.orderBy(lhs.map(col): _*)
    def peers(w: WindowSpec) = w.rangeBetween(Window.currentRow, Window.currentRow)
    counts
      .withColumn("lhs_cnt", sum("cnt").over(peers(byLhs)))
      .withColumn("lhs_rank", dense_rank().over(byLhs))
      .withColumn("rhs_cnt", sum("cnt").over(peers(byKey.orderBy(col(rhs)))))
      .groupBy(keys.map(col): _*)
      .agg(
        sum("cnt").as("n"),
        sum(col("cnt") * col("cnt") / col("lhs_cnt")).as("sp"),
        sum(col("cnt") * col("rhs_cnt")).as("sb"),
        max("lhs_rank").cast("long").as("da")
      )
  }

  private def toStats(fd: Fd, sumsRow: Option[Row]): PdepStats =
    sumsRow.filterNot(r => r.isNullAt(r.fieldIndex("n"))) match {
      case None => PdepStats(fd, 0L, None, None, None, None) // every row of the FD is masked
      case Some(r) =>
        val n = r.getAs[Long]("n")
        val pdepB = r.getAs[Long]("sb").toDouble / (n.toDouble * n)
        val pdepAB = r.getAs[Double]("sp") / n
        val dA = r.getAs[Long]("da")
        val epdep: Option[Double] =
          if (pdepB == 1.0) None // reference: division-by-zero guard, pdep.py:172-173
          else if (n == 1L) Some(0.0)
          else Some(pdepB + (dA - 1).toDouble / (n - 1).toDouble * (1 - pdepB))
        PdepStats(fd, n, Some(pdepB), Some(pdepAB), epdep, epdep.map(pdepAB - _))
    }

  /** In-engine FD search (replacement for the reference's external
    * HyFD JAR, `src/pdep.py:513-573`, per SURVEY.md §2.1 S6): validate
    * every order-1 candidate `lhs -> rhs` over the error-masked rows.
    * An FD holds iff every lhs value maps to exactly one rhs value
    * (`max(countDistinct(rhs)) == 1`); `maxViolationFrac` relaxes to
    * approximate FDs (fraction of rows in violating lhs groups).
    */
  def mineFds(
      df: DataFrame,
      errors: DataFrame,
      rowId: String,
      cols: Seq[String],
      maxViolationFrac: Double = 0.0
  ): DataFrame = mineFds(Correctors.allCounts(df, errors, rowId, cols), maxViolationFrac)

  /** FD search over precomputed pair counts (`Correctors.allCounts`):
    * two aggregations over the model, one scalar row per column pair.
    * Cell-level masking of a (lhs, rhs) pair ≡ the reference's
    * row-level masking restricted to that pair's two columns.
    */
  def mineFds(pairCounts: DataFrame, maxViolationFrac: Double): DataFrame =
    pairCounts
      .groupBy("lhs_col", "rhs_col", "lhs_val")
      .agg(sum("cnt").as("n"), count(lit(1)).as("d"))
      .groupBy("lhs_col", "rhs_col")
      .agg(
        sum("n").as("n_rows"),
        sum(when(col("d") > 1, col("n")).otherwise(0L)).as("violating_rows")
      )
      .filter(col("violating_rows") <= col("n_rows") * lit(maxViolationFrac))
      .select(col("lhs_col").as("lhs"), col("rhs_col").as("rhs"), col("n_rows"), col("violating_rows"))

  /** The gpdep table as a DataFrame: one row per FD with all four
    * statistics plus the per-rhs normalized gpdep, doubles rounded to 6
    * for oracle-stable output. The assembled relation is tiny by
    * construction (|FDs| rows).
    */
  def statsDF(df: DataFrame, errors: DataFrame, rowId: String, fds: Seq[Fd]): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    gpdepTable(df, errors, rowId, fds).toSeq
      .sortBy(_._1)
      .map { case (k, (s, ng)) => (k, s.n, s.pdepB, s.pdepAB, s.epdep, s.gpdep, ng) }
      .toDF("fd_key", "n", "pdep_b", "pdep_ab", "epdep", "gpdep", "norm_gpdep")
      .select(
        col("fd_key") +: col("n") +:
          Seq("pdep_b", "pdep_ab", "epdep", "gpdep", "norm_gpdep").map(c => round(col(c), 6).as(c)): _*
      )
  }

  /** gpdep for a set of order-1 FDs over the masked pair counts of
    * their columns — see the `gpdepTable` over pair counts.
    */
  def gpdepTable(
      df: DataFrame,
      errors: DataFrame,
      rowId: String,
      fds: Seq[Fd]
  ): Map[String, (PdepStats, Double)] =
    gpdepTable(Correctors.allCounts(df, errors, rowId, fds.flatMap(_.cols).distinct), fds)

  /** gpdep for a set of order-1 FDs, plus per-rhs normalization
    * (`norm_gpdep = gpdep / sum(gpdep over lhs for this rhs)` when the
    * sum is positive — reference `src/correction.py:541-553`), from
    * one aggregation and one collect over `Correctors.allCounts`
    * pair counts. Returns `(stats, normGpdep)` keyed by `fd.key`.
    */
  def gpdepTable(pairCounts: DataFrame, fds: Seq[Fd]): Map[String, (PdepStats, Double)] = {
    val bad = fds.filterNot(fd => fd.lhs.size == 1 && fd.lhs.head != fd.rhs)
    require(bad.isEmpty, s"pair counts hold order-1 FDs lhs -> rhs, lhs != rhs; got ${bad.map(_.key).mkString(", ")}")
    val wanted = fds
      .groupBy(_.rhs)
      .map { case (rhs, fs) => col("rhs_col") === rhs && col("lhs_col").isin(fs.map(_.lhs.head): _*) }
      .foldLeft(lit(false))(_ || _)
    val byPair = sums(pairCounts.filter(wanted), Seq("lhs_col", "rhs_col"), Seq("lhs_val"), "candidate")
      .collect()
      .map(r => (r.getString(0), r.getString(1)) -> r)
      .toMap
    val all = fds.map { fd =>
      fd.key -> toStats(fd, byPair.get((fd.lhs.head, fd.rhs)))
    }.toMap
    val norm: Map[String, Double] = all.values.groupBy(_.fd.rhs).flatMap { case (_, ss) =>
      val normSum = ss.flatMap(_.gpdep).sum
      ss.map(s => s.fd.key -> (if (normSum > 0) s.gpdep.map(_ / normSum).getOrElse(0.0) else 0.0))
    }
    all.map { case (k, s) => k -> (s, norm(k)) }
  }
}
