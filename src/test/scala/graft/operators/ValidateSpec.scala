package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Row validation: null-as-violation semantics, multi-rule annotation
  * order, the clean/quarantine split, and the one-pass profile.
  */
class ValidateSpec extends AnyFunSuite {
  import Validate.Rule

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def rows = Seq(
    (1L, Some(10.0), "A"),   // clean
    (2L, Some(-3.0), "A"),   // fails amount_pos
    (3L, None, "B"),         // fails amount_pos (NULL) AND flag_ok
    (4L, Some(5.0), "X"))    // fails flag_ok
    .toDF("id", "amount", "flag")

  private def rules = Seq(
    Rule("amount_pos", col("amount") > 0),
    Rule("flag_ok", col("flag").isin("A", "B") && col("flag") =!= "B"))

  test("annotate: nulls violate, multiple failures list in rule order") {
    val a = Validate.annotate(rows, rules).collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[Seq[String]]("violations"), r.getAs[Boolean]("valid"))).toMap
    assert(a(1L) == (Seq(), true))
    assert(a(2L) == (Seq("amount_pos"), false))
    // null amount must NOT slip through three-valued logic
    assert(a(3L) == (Seq("amount_pos", "flag_ok"), false))
    assert(a(4L) == (Seq("flag_ok"), false))
  }

  test("split: clean side drops annotations, quarantine keeps the report") {
    val (clean, quarantine) = Validate.split(rows, rules)
    assert(clean.columns.toSeq == Seq("id", "amount", "flag"))
    assert(clean.collect().map(_.getLong(0)).toSet == Set(1L))
    assert(quarantine.columns.contains("violations"))
    assert(quarantine.collect().map(_.getLong(0)).toSet == Set(2L, 3L, 4L))
  }

  test("profile: per-rule counts + totals from one pass, no data-row shuffle") {
    val p = Validate.profile(rows, rules)
    val got = p.collect().map(r => r.getAs[String]("rule") ->
      (r.getAs[Long]("n_violations"), r.getAs[Long]("n_rows"), r.getAs[Long]("n_clean"))).toMap
    assert(got("amount_pos") == (2L, 4L, 1L))
    assert(got("flag_ok") == (2L, 4L, 1L))
    // scan-side contraction: the only exchange is the 1-row aggregate
    val shuffles = p.queryExecution.executedPlan.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    }
    assert(shuffles.size <= 1, "profile must not shuffle data rows")
  }

  test("rejects duplicate rule names, empty rule sets, and reserved input columns") {
    intercept[IllegalArgumentException](Validate.annotate(rows, Nil))
    intercept[IllegalArgumentException](
      Validate.annotate(rows, Seq(Rule("r", lit(true)), Rule("r", lit(false)))))
    intercept[IllegalArgumentException](
      Validate.annotate(rows.withColumn("valid", lit(true)),
        Seq(Rule("r", lit(true)))))
  }

  test("profile: rule names are data, not column paths — dots and backticks are fine") {
    val p = Validate.profile(rows, Seq(
      Rule("amount.pos", col("amount") > 0),
      Rule("flag`tick", col("flag") === "A")))
    val got = p.collect().map(r =>
      r.getAs[String]("rule") -> r.getAs[Long]("n_violations")).toMap
    assert(got == Map("amount.pos" -> 2L, "flag`tick" -> 2L))
  }

  test("annotate streams: stateless append-mode quarantine, no state store") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    val input = MemoryStream[(Long, Double, String)]
    val q = Validate.annotate(
        input.toDS().toDF("id", "amount", "flag"),
        Seq(Rule("amount_pos", col("amount") > 0)))
      .filter(!col("valid"))
      .writeStream.format("memory").queryName("vstream")
      .outputMode("append").start()
    try {
      input.addData((1L, 10.0, "A"), (2L, -3.0, "A"), (3L, -1.0, "B"))
      q.processAllAvailable()
      assert(spark.table("vstream").collect().map(_.getLong(0)).toSet == Set(2L, 3L))
      val exec = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution
      assert(!exec.executedPlan.toString.contains("StateStore"),
        "the quarantine gate must be stateless")
    } finally q.stop()
  }

  test("benfordProfile: digit extraction, zero digits, exact deviations") {
    // digits: 123.45→1, 0.005→5, 9000→9, 2→2, 0.91→9; filtered: 0, null, -0.0
    val vals: Seq[Option[Double]] = Seq(Some(123.45), Some(0.005), Some(9000.0),
      Some(2.0), Some(0.91), Some(0.0), None, Some(-123.45))
    val df = vals.toDF("v")
    val got = Validate.benfordProfile(df, "v").collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(got.keySet == (1 to 9).toSet, "all nine digits present")
    val n = 6L // -123.45 counts via abs; 0/null drop
    assert(got(1)._1 == 2L) // 123.45 and -123.45
    assert(got(2)._1 == 1L)
    assert(got(5)._1 == 1L)
    assert(got(9)._1 == 2L)
    assert(got(3)._1 == 0L)
    for (d <- 1 to 9) {
      val (obs, exp, dev) = got(d)
      assert(exp == n * Validate.BenfordMicro(d - 1), s"digit=$d")
      assert(dev == obs * 1000000L - exp, s"digit=$d")
    }
  }
}
