package graft.correct

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Golden values from the reference's only automated test module,
  * `src/test_pdep.py` (people 7-row table, small 4-row table with
  * error masking). Numbers: pdep(city)=0.43, pdep(zip->city)=0.81,
  * pdep((name,zip)->city)=1.0, E[pdep(zip->city)]=0.62; masking:
  * 0.33 / 1 / 1 / None / None.
  */
class PdepSpec extends SparkSpec {
  import spark.implicits._

  private lazy val people = Seq(
    (1L, "Natalie", "14193", "Berlin"),
    (2L, "Alice", "14193", "Berlin"),
    (3L, "Tim", "14880", "Potsdam"),
    (4L, "Bob", "14882", "Potsdam"),
    (5L, "Bob", "14882", "Potsdam"),
    (6L, "Alice", "14880", "Potsdam"),
    (7L, "Bob", "14193", "Berln")
  ).toDF("row_id", "name", "zip", "city")

  private lazy val noErrors = spark.emptyDataset[ErrorCell].toDF()

  // 4-row table for the error-masking goldens (test_pdep.py:80-85)
  private lazy val small = Seq(
    (0L, "1", "Natalie"),
    (1L, "2", "Alice"),
    (2L, "3", "Tim"),
    (3L, "4", "Bob")
  ).toDF("row_id", "id", "name")

  private def round2(x: Double) = math.round(x * 100) / 100.0

  test("pdep(city) = 0.43") {
    // lhs irrelevant for pdep(B) with no errors; reference uses id->city context
    val s = Pdep.stats(people, noErrors, "row_id", Fd(Seq("name"), "city"))
    assert(round2(s.pdepB.get) == 0.43)
    assert(s.n == 7)
  }

  test("pdep(zip -> city) = 0.81") {
    val s = Pdep.stats(people, noErrors, "row_id", Fd(Seq("zip"), "city"))
    assert(round2(s.pdepAB.get) == 0.81)
  }

  test("pdep((name, zip) -> city) = 1.0") {
    val s = Pdep.stats(people, noErrors, "row_id", Fd(Seq("name", "zip"), "city"))
    assert(round2(s.pdepAB.get) == 1.0)
  }

  test("E[pdep(zip -> city)] = 0.62") {
    val s = Pdep.stats(people, noErrors, "row_id", Fd(Seq("zip"), "city"))
    assert(round2(s.epdep.get) == 0.62)
  }

  test("masking: one lhs error -> pdep(id)=0.33 in context name->id") {
    val errors = Seq(ErrorCell(0L, "id", "0")).toDF()
    val s = Pdep.stats(small, errors, "row_id", Fd(Seq("name"), "id"))
    assert(s.n == 3)
    assert(round2(s.pdepB.get) == 0.33)
  }

  test("masking: all lhs errors -> None") {
    val errors = (0L to 3L).map(r => ErrorCell(r, "id", r.toString)).toDF()
    val s = Pdep.stats(small, errors, "row_id", Fd(Seq("name"), "id"))
    assert(s.n == 0 && s.pdepB.isEmpty && s.pdepAB.isEmpty && s.gpdep.isEmpty)
  }

  test("masking: two lhs errors -> pdep(id->name)=1") {
    val errors = Seq(ErrorCell(0L, "id", "0"), ErrorCell(1L, "id", "1")).toDF()
    val s = Pdep.stats(small, errors, "row_id", Fd(Seq("id"), "name"))
    assert(s.n == 2)
    assert(round2(s.pdepAB.get) == 1.0)
  }

  test("masking: two rhs errors -> pdep(id->name)=1") {
    val errors = Seq(ErrorCell(0L, "name", "Otto"), ErrorCell(1L, "name", "Hanna")).toDF()
    val s = Pdep.stats(small, errors, "row_id", Fd(Seq("id"), "name"))
    assert(s.n == 2)
    assert(round2(s.pdepAB.get) == 1.0)
  }

  test("masking: all rhs errors -> None") {
    val errors = (0L to 3L).map(r => ErrorCell(r, "name", "x")).toDF()
    val s = Pdep.stats(small, errors, "row_id", Fd(Seq("id"), "name"))
    assert(s.n == 0 && s.pdepAB.isEmpty)
  }

  test("cell diff finds exactly the differing cells") {
    val dirty = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("row_id", "c1", "c2")
    val clean = Seq((1L, "a", "X"), (2L, "B", "y")).toDF("row_id", "c1", "c2")
    val diff = Cells.cellDiff(dirty, clean, "row_id", Seq("c1", "c2")).collect()
    assert(diff.length == 2)
    val got = diff.map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(got == Set((1L, "c2", "x", "X"), (2L, "c1", "b", "B")))
  }

  test("applyCorrections overlays cell values") {
    val df = Seq((1L, "a", "x"), (2L, "b", "y")).toDF("row_id", "c1", "c2")
    val corr = Seq(Correction(1L, "c2", "X"), Correction(2L, "c1", "B")).toDF()
    val out = Cells
      .applyCorrections(df, corr, "row_id", Seq("c1", "c2"))
      .orderBy("row_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(out.toSeq == Seq((1L, "a", "X"), (2L, "B", "y")))
  }

  // one-pass gpdep fixture: null lhs values (a), a column fully masked
  // by errors (m), a constant column (k), and two FDs into c
  private lazy val gp7 = Seq[(Long, String, String, String, String, String)](
    (1L, "x", "p", "u", "K", "z"),
    (2L, "x", "p", "u", "K", "z"),
    (3L, null, "q", "u", "K", "z"),
    (4L, null, "q", "v", "K", "z"),
    (5L, "y", "q", "v", "K", "z"),
    (6L, "y", "r", "BAD", "K", "z"),
    (7L, "x", "q", "BAD2", "K", "z")
  ).toDF("row_id", "a", "b", "c", "k", "m")
  private lazy val gp7Errors =
    (Seq(ErrorCell(6L, "c", "BAD"), ErrorCell(7L, "c", "BAD2")) ++ (1L to 7L).map(r => ErrorCell(r, "m", "z"))).toDF()
  private val gp7Fds = Seq(Fd(Seq("a"), "c"), Fd(Seq("b"), "c"), Fd(Seq("a"), "k"), Fd(Seq("a"), "m"))

  test("one-pass gpdep: null lhs, fully masked FD, constant rhs, per-rhs normalization") {
    // rows 6 and 7 are masked for every FD into c. a -> c: counts
    // (x,u)=2 (null,u)=1 (null,v)=1 (y,v)=1, N=5, dA=3 (null counts):
    //   pdep(c) = (3^2+2^2)/25 = 0.52, pdep(a,c) = (4/2+1/2+1/2+1/1)/5 = 0.8,
    //   E = 0.52 + 2/4*0.48 = 0.76, gpdep = 0.04
    // b -> c: (p,u)=2 (q,u)=1 (q,v)=2, N=5, dA=2:
    //   pdep(b,c) = (4/2+1/3+4/3)/5 = 11/15, E = 0.52 + 1/4*0.48 = 0.64,
    //   gpdep = 11/15-0.64; norm over rhs c: 0.04/(2/15) = 0.3 and 0.7
    // a -> k: constant rhs, N=7, pdep(k) = 1 -> E and gpdep None
    // a -> m: every m cell is an error -> N=0, all None
    val gp = Pdep.gpdepTable(gp7, gp7Errors, "row_id", gp7Fds)
    def close(got: Option[Double], want: Double) = got.exists(g => math.abs(g - want) < 1e-12)
    val (ac, acNorm) = gp("a->c")
    assert(ac.n == 5L && close(ac.pdepB, 0.52) && close(ac.pdepAB, 0.8) && close(ac.epdep, 0.76))
    assert(close(ac.gpdep, 0.04) && math.abs(acNorm - 0.3) < 1e-12)
    val (bc, bcNorm) = gp("b->c")
    assert(bc.n == 5L && close(bc.pdepB, 0.52) && close(bc.pdepAB, 11.0 / 15) && close(bc.epdep, 0.64))
    assert(close(bc.gpdep, 11.0 / 15 - 0.64) && math.abs(bcNorm - 0.7) < 1e-12)
    val (ak, akNorm) = gp("a->k")
    assert(ak.n == 7L && close(ak.pdepB, 1.0) && close(ak.pdepAB, 1.0) && ak.epdep.isEmpty && ak.gpdep.isEmpty)
    assert(akNorm == 0.0)
    val (am, amNorm) = gp("a->m")
    assert(am == PdepStats(Fd(Seq("a"), "m"), 0L, None, None, None, None) && amNorm == 0.0)
    // the single-FD path (fdCounts + the same aggregation) agrees
    for (fd <- gp7Fds) {
      val s = Pdep.stats(gp7, gp7Errors, "row_id", fd)
      val p = gp(fd.key)._1
      assert(s.n == p.n && s.epdep.isDefined == p.epdep.isDefined, fd.key)
      for ((x, y) <- Seq(s.pdepB -> p.pdepB, s.pdepAB -> p.pdepAB, s.epdep -> p.epdep, s.gpdep -> p.gpdep))
        assert(x.zip(y).forall { case (u, v) => math.abs(u - v) < 1e-12 }, fd.key)
    }
  }

  test("shared pair-count lookup == per-FD fdCounts lookup, and emits fd + vicinity-1 together") {
    val gp = Pdep.gpdepTable(gp7, gp7Errors, "row_id", gp7Fds)
    val intoC = gp7Fds.filter(_.rhs == "c")
    // the per-FD path: error rows of the rhs joined with the FD's own
    // row-masked counts, norm_gpdep summed per candidate across FDs
    val expected = intoC
      .map { fd =>
        gp7
          .join(gp7Errors.filter(col("col") === fd.rhs).select("row_id"), "row_id")
          .select(col("row_id") +: fd.lhs.map(col): _*)
          .join(
            Pdep.fdCounts(gp7, gp7Errors, "row_id", fd).drop("lhs_cnt").withColumnRenamed(fd.rhs, "candidate"),
            fd.lhs
          )
          .select(col("row_id"), col("candidate"), lit(gp(fd.key)._2).as("score"))
      }
      .reduce(_ unionByName _)
      .groupBy("row_id", "candidate")
      .agg(sum("score").as("score"))
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(col("row_id"), col("candidate"), round(col("score"), 9))
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
        .toSet
    // row 6: a=y -> v (0.3), b=r has no unmasked rows; row 7: a=x -> u
    // (0.3), b=q -> u, v (0.7 each)
    assert(rows(expected) == Set((6L, "v", 0.3), (7L, "u", 1.0), (7L, "v", 0.7)))
    val fdSugg = Correctors.fdCorrector(gp7, gp7Errors, "row_id", gp, intoC)
    assert(rows(fdSugg) == rows(expected))

    val cols = Seq("a", "b", "c", "k", "m")
    val both = Correctors
      .pairCorrectors(
        gp7,
        gp7Errors,
        "row_id",
        cols,
        Correctors.allCounts(gp7, gp7Errors, "row_id", cols),
        intoC.map(fd => fd -> gp(fd.key)._2),
        vicinity1 = true
      )
      .cache()
    assert(rows(both.filter(col("corrector") === "fd")) == rows(expected))
    val vicinity = Correctors.vicinityCorrectorOrder1(gp7, gp7Errors, "row_id", cols)
    val vic = both.filter(col("corrector") =!= "fd")
    assert(vic.exceptAll(vicinity).isEmpty && vicinity.exceptAll(vic).isEmpty)
    both.unpersist()
  }
}
