package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

class EditJoinSpec extends AnyFunSuite {

  lazy val spark = GraftSession.local(4)
  import spark.implicits._

  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  private def enginePairs(strs: Seq[String]): Set[(Long, Long)] =
    EditJoin.pairs(
        strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s"),
        "id", "s", maxDist = 1)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSet

  private def brutePairs(strs: Seq[String]): Set[(Long, Long)] =
    (for {
      i <- strs.indices; j <- (i + 1) until strs.size
      if lev(strs(i), strs(j)) <= 1
    } yield (i.toLong, j.toLong)).toSet

  test("deletionKeys: the string itself plus each single deletion; empty guarded") {
    val got = spark.range(1).select(lit("abc").as("s"))
      .select(EditJoin.deletionKeys("s").as("k"))
      .head().getAs[collection.Seq[String]]("k").toSet
    assert(got == Set("abc", "bc", "ac", "ab"))
    val dup = spark.range(1).select(lit("aa").as("s"))
      .select(EditJoin.deletionKeys("s").as("k"))
      .head().getAs[collection.Seq[String]]("k")
    assert(dup.toSet == Set("aa", "a") && dup.size == 2, "repeated-char variants dedup")
    val empty = spark.range(1).select(lit("").as("s"))
      .select(EditJoin.deletionKeys("s").as("k"))
      .head().getAs[collection.Seq[String]]("k").toSet
    assert(empty == Set(""))
  }

  test("pairs = brute force: substitutions, inserts, deletes, anywhere in the string") {
    val strs = Seq(
      "Customer#000000001",
      "Customer#000000002", // substitution at tail vs #1
      "Custoner#000000001", // substitution at head vs #1
      "Customer#0000000012", // insert at tail vs #1
      "Custome#000000001",  // delete vs #1
      "Supplier#000000001", // far from all
      "ab", "ba",           // ed 2 via transposition: must NOT pair
      "x")                  // single-char string
    assert(enginePairs(strs) == brutePairs(strs))
  }

  test("pairs = brute force on a generated typo corpus") {
    val base = (0 until 60).map(i => f"item-${i}%04d-label")
    val rng = new scala.util.Random(7)
    val withTypos = base ++ base.take(25).map { s =>
      val pos = rng.nextInt(s.length)
      rng.nextInt(3) match {
        case 0 => s.updated(pos, '#')                       // substitute
        case 1 => s.substring(0, pos) + s.substring(pos + 1) // delete
        case _ => s.substring(0, pos) + "Z" + s.substring(pos) // insert
      }
    }
    val expect = brutePairs(withTypos)
    assert(expect.nonEmpty, "corpus must actually contain ed<=1 pairs")
    assert(enginePairs(withTypos) == expect)
  }

  test("pairs = brute force on a common-prefix corpus (the degenerate case for prefix blocking)") {
    // Every string shares a long common prefix; blocking must stay selective.
    val strs = (0 until 80).map(i => f"Customer#000000$i%03d") ++
      Seq("Customer#000000007X", "Customer#00000000")
    assert(enginePairs(strs) == brutePairs(strs))
  }

  private def enginePairsSeg(strs: Seq[String]): Set[(Long, Long)] =
    EditJoin.pairsSegmented(
        strs.zipWithIndex.map { case (s, i) => (i.toLong, s) }.toDF("id", "s"),
        "id", "s", maxDist = 1)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")))
      .toSet

  test("pairsSegmented = brute force on random typo corpora, short and long strings") {
    val rng = new scala.util.Random(13)
    def corpus(wordLen: Int): Seq[String] = {
      val base = (0 until 40).map(i =>
        (0 until wordLen).map(j => ('a' + ((i * 7 + j * 3) % 9)).toChar).mkString + f"-$i%03d")
      base ++ base.take(18).map { s =>
        val pos = rng.nextInt(s.length)
        rng.nextInt(3) match {
          case 0 => s.updated(pos, '#')
          case 1 => s.substring(0, pos) + s.substring(pos + 1)
          case _ => s.substring(0, pos) + "Z" + s.substring(pos)
        }
      }
    }
    for (len <- Seq(3, 17, 120)) {
      val strs = corpus(len)
      val expect = brutePairs(strs)
      assert(expect.nonEmpty, s"len=$len corpus must contain pairs")
      assert(enginePairsSeg(strs) == expect, s"len=$len")
      assert(enginePairs(strs) == expect, s"len=$len (deletion path)")
    }
  }

  test("pairsSegmented handles empty and single-char strings") {
    val strs = Seq("", "x", "xy", "a", "")
    assert(enginePairsSeg(strs) == brutePairs(strs))
  }

  test("pairs carries the exact distance column") {
    val got = EditJoin.pairs(
        Seq((1L, "abcd"), (2L, "abed"), (3L, "abcd")).toDF("id", "s"),
        "id", "s", maxDist = 1)
      .collect()
      .map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Long]("dist")))
      .toSet
    assert(got == Set((1L, 2L, 1L), (1L, 3L, 0L), (2L, 3L, 1L)))
  }
}
