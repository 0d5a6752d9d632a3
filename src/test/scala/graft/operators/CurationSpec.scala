package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.GraftSession

/** Curation-pass operators: PII scrubbing, deterministic splits,
  * line-level boilerplate dedup, sequence packing, semantic dedup.
  * Each is checked against a driver-side brute-force oracle or
  * hand-computed expected output.
  */
class CurationSpec extends AnyFunSuite {
  import graft.functions.Curation

  lazy val spark = GraftSession.local(4)

  private def scrub(s: String): String = {
    import spark.implicits._
    Seq(s).toDF("t").select(Curation.redactPii(col("t"))).as[String].head()
  }

  test("redactPii masks emails, govt ids and IPs with typed tokens") {
    assert(scrub("mail a.b+c@foo-bar.example.com now") == "mail <EMAIL> now")
    assert(scrub("ip 192.168.3.7 and 10.0.0.1.") == "ip <IP> and <IP>.")
    assert(scrub("ssn 123-45-6789 ok") == "ssn <ID> ok")
    assert(scrub("x u1@ex2.org 10.3.4.9 867-53-0042 y") == "x <EMAIL> <IP> <ID> y")
  }

  test("redaction order: dotted-digit email local parts never leak as IPs") {
    // if IPs ran first, the local part would half-match Ipv4Re
    assert(scrub("a 10.20.30.41@evil.org b") == "a <EMAIL> b")
  }

  test("clean text passes through unchanged") {
    val s = "no pii here just words and 42 numbers 1.5"
    assert(scrub(s) == s)
  }

  test("classifierMargin equals a driver-side recompute of bucket weights") {
    import spark.implicits._
    def bucket(s: String): Int = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"clf:$s".getBytes("UTF-8")).map("%02x".format(_)).mkString
      Integer.parseInt(hex.substring(0, 2), 16)
    }
    val docs = Seq("the quick brown fox", "one", "a a a repeated tokens a")
    val expected = docs.map(_.trim.split("\\s+").map(t => (bucket(t) - 128).toLong).sum)
    val got = docs.toDF("t")
      .select(Curation.classifierMargin(col("t")).as("m")).as[Long].collect()
    assert(got.toSeq == expected)
  }

  test("dedupParagraphs keeps first occurrences in order, zero shuffle") {
    import spark.implicits._
    val df = Seq("a\nb\na\nc\nb\na", "solo", "x\nx").toDF("t")
      .select(Curation.dedupParagraphs(col("t")).as("d"))
    assert(df.as[String].collect().toSeq == Seq("a\nb\nc", "solo", "x"))
    // per-document map work only: no Exchange anywhere in the plan
    assert(!df.queryExecution.executedPlan.toString.contains("Exchange"))
  }

  test("normalizeText strips control chars, collapses whitespace, is idempotent") {
    import spark.implicits._
    val cases = Seq(
      "\u0007  a\tb\n\n  c\u007f ",   // bell/del + mixed whitespace
      "already clean text",
      "\u0001\u0002\u0003",           // control-only → empty
      "  leading and trailing  ")
    val out = cases.toDF("t")
      .select(Curation.normalizeText(col("t")).as("n"),
        Curation.normalizeText(Curation.normalizeText(col("t"))).as("nn"))
      .as[(String, String)].collect()
    assert(out(0)._1 == "a b c")
    assert(out(1)._1 == "already clean text")
    assert(out(2)._1 == "")
    assert(out(3)._1 == "leading and trailing")
    out.foreach { case (n, nn) => assert(n == nn, "idempotence") }
  }

  test("splitAssign matches a JVM md5 oracle and is deterministic") {
    import spark.implicits._
    val keys = (0L until 2000L).toDF("k")
    val got = keys.select(col("k"), Curation.hashBucket256(col("k"), "split").as("b"),
        Curation.splitAssign(col("k")).as("s"))
      .as[(Long, Int, String)].collect().sortBy(_._1)
    val md = java.security.MessageDigest.getInstance("MD5")
    got.foreach { case (k, b, s) =>
      val hex = md.digest(s"split:$k".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val expected = Integer.parseInt(hex.take(2), 16)
      assert(b == expected, s"bucket for key $k")
      val label = if (b < 230) "train" else if (b < 243) "val" else "test"
      assert(s == label)
    }
    // fractions land near 230/256, 13/256, 13/256
    val frac = got.groupBy(_._3).view.mapValues(_.length / 2000.0).toMap
    assert(math.abs(frac("train") - 230.0 / 256) < 0.03)
    assert(math.abs(frac("val") - 13.0 / 256) < 0.02)
    assert(math.abs(frac("test") - 13.0 / 256) < 0.02)
  }

  test("shardAssign/shuffleKey: deterministic, in-range, decorrelates sequential ids") {
    import graft.functions.Curation
    import spark.implicits._
    val docs = (0L until 256L).toDF("doc_id")
    def run() = docs.select(col("doc_id"),
        Curation.shardAssign(col("doc_id"), 8).as("shard"),
        Curation.shuffleKey(col("doc_id")).as("k"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
    val a = run()
    assert(a.toSeq == run().toSeq, "assignment must be deterministic")
    assert(a.forall { case (_, s, _) => s >= 0 && s < 8 })
    // parity with the documented md5 arithmetic
    a.foreach { case (id, s, k) =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s"shuffle:$id".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      assert(k == hex, s"doc $id shuffle key")
      assert(s == Integer.parseInt(hex.take(2), 16) % 8, s"doc $id shard")
    }
    // a random permutation scatters: all 8 shards hit, and sorting by
    // shuffle key breaks the sequential id order immediately
    assert(a.map(_._2).distinct.length == 8)
    val firstBySorted = a.sortBy(_._3).take(8).map(_._1).toSeq
    assert(firstBySorted != (0L until 8L).toSeq)
  }

  test("tokenLines: width-8 windows with 1-based slice arithmetic") {
    import spark.implicits._
    val doc = (1 to 19).map(i => s"w$i").mkString(" ")
    val lines = Lines.tokenLines(Seq((1L, doc)).toDF("doc_id", "text"), "doc_id", "text")
      .orderBy("line_no").as[(Long, Int, String)].collect()
    assert(lines.length == 3)
    assert(lines(0)._3 == (1 to 8).map(i => s"w$i").mkString(" "))
    assert(lines(1)._3 == (9 to 16).map(i => s"w$i").mkString(" "))
    assert(lines(2)._3 == (17 to 19).map(i => s"w$i").mkString(" "))
  }

  test("dedupStats flags lines shared by >= minDocs distinct docs only") {
    import spark.implicits._
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ")
    // docs 1..3 share the boilerplate line; each also has a unique line
    val docs = (1 to 3).map(i => (i.toLong, boiler + " " + (1 to 8).map(j => s"u${i}_$j").mkString(" "))) :+
      (4L, (1 to 8).map(j => s"solo$j").mkString(" "))
    val stats = Lines.dedupStats(docs.toDF("doc_id", "text"), "doc_id", "text",
        width = 8, minDocs = 3)
      .orderBy("doc_id").as[(Long, Long, Long, Long)].collect()
    assert(stats.take(3).forall { case (_, nl, nd, kept) => nl == 2 && nd == 1 && kept == 8 })
    assert(stats(3) == (4L, 1L, 0L, 8L))
  }

  test("removeBoilerplate drops shared lines, keeps order") {
    import spark.implicits._
    val boiler = (1 to 8).map(i => s"b$i").mkString(" ")
    val docs = (1 to 3).map { i =>
      val unique = (1 to 8).map(j => s"u${i}_$j").mkString(" ")
      (i.toLong, unique + " " + boiler + " " + unique.replace("u", "v"))
    }
    val out = Lines.removeBoilerplate(docs.toDF("doc_id", "text"), "doc_id", "text",
        width = 8, minDocs = 3)
      .orderBy("doc_id").as[(Long, String)].collect()
    out.foreach { case (id, text) =>
      assert(!text.contains("b1"), s"doc $id kept boilerplate")
      assert(text == (1 to 8).map(j => s"u${id}_$j").mkString(" ") + " " +
        (1 to 8).map(j => s"v${id}_$j").mkString(" "))
    }
  }

  test("packManifest matches a sequential driver-side packer") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val budget = 50
    val docs = for (g <- Seq("a", "b"); i <- 0 until 40)
      yield (g, i.toLong, 1 + rnd.nextInt(30))
    val got = Packing.packManifest(docs.toDF("source", "doc_id", "n_tokens"),
        Seq("source"), "doc_id", "n_tokens", budget)
      .select("source", "seq_id", "n_docs", "first_doc", "last_doc", "n_tokens")
      .as[(String, Long, Long, Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4, t._5, t._6)).toMap
    // sequential oracle: walk the concatenated token stream per group,
    // crediting each doc to every sequence its token interval overlaps
    val expected = scala.collection.mutable.Map[(String, Long), (Long, Long, Long, Long)]()
    for (g <- Seq("a", "b")) {
      var off = 0L
      for ((_, id, n) <- docs.filter(_._1 == g).sortBy(_._2)) {
        val (start, end) = (off, off + n)
        for (seq <- (start / budget) to ((end - 1) / budget)) {
          val overlap = math.min(end, (seq + 1) * budget) - math.max(start, seq * budget)
          val (c, f, l, tok) = expected.getOrElse((g, seq), (0L, Long.MaxValue, -1L, 0L))
          expected((g, seq)) = (c + 1, math.min(f, id), math.max(l, id), tok + overlap)
        }
        off = end
      }
    }
    assert(got.keySet == expected.keySet)
    expected.foreach { case (k, (c, f, l, tok)) =>
      assert(got(k) == ((c, f, l, tok)), s"seq $k")
    }
    // invariant: every sequence but each group's last holds exactly `budget`
    for (g <- Seq("a", "b")) {
      val seqs = got.keys.filter(_._1 == g).map(_._2)
      val last = seqs.max
      seqs.filter(_ != last).foreach(s => assert(got((g, s))._4 == budget))
    }
  }

  test("packManifestFrom: increments under ANY batch split tile the one-shot manifest, incl. exact-boundary offsets") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val budget = 50
    val docs = (for (g <- Seq("a", "b"); i <- 0 until 30)
      yield (g, i.toLong, 1 + rnd.nextInt(30))) ++
      // force an EXACT budget-boundary handoff for group c: batch 1
      // ends at precisely 2*budget tokens, so batch 2 must open a new
      // sequence, not continue a partial one
      Seq(("c", 0L, 60), ("c", 1L, 40), ("c", 2L, 7), ("c", 3L, 50))
    val oneShot = Packing.packManifest(docs.toDF("source", "doc_id", "n_tokens"),
        Seq("source"), "doc_id", "n_tokens", budget)
      .groupBy($"source", $"seq_id")
      .agg(org.apache.spark.sql.functions.sum($"n_tokens").as("t"),
        org.apache.spark.sql.functions.sum($"n_docs").as("d"))
      .as[(String, Long, Long, Long)].collect()
      .map(t => (t._1, t._2) -> (t._3, t._4)).toMap
    for (cut <- Seq(1, 17, 31, 62)) { // incl. a batch of 1 and a near-total batch
      val (b1, b2) = docs.sortBy(d => (d._1, d._2)).splitAt(cut)
      def run(batch: Seq[(String, Long, Int)], base: Map[String, Long]) =
        Packing.packManifestFrom(batch.toDF("source", "doc_id", "n_tokens"),
          Seq("source"), "doc_id", "n_tokens", budget,
          base.toSeq.toDF("source", "base_tok"))
      val base1 = Map.empty[String, Long] // absent groups start at 0
      val m1 = run(b1, base1).collect()
      val base2 = b1.groupBy(_._1).view.mapValues(_.map(_._3.toLong).sum).toMap
      val m2 = run(b2, base2).collect()
      val tiled = (m1 ++ m2)
        .map(r => (r.getAs[String]("source"), r.getAs[Long]("seq_id")) ->
          ((r.getAs[Long]("n_tokens"), r.getAs[Long]("n_docs"))))
        .groupBy(_._1).view
        .mapValues(vs => (vs.map(_._2._1).sum, vs.map(_._2._2).sum)).toMap
      assert(tiled == oneShot, s"cut=$cut must tile the one-shot manifest")
    }
  }

  test("packManifest: zero-token docs yield NO manifest incidence — no phantom rows at exact budget boundaries") {
    import spark.implicits._
    val budget = 50
    // group z: 50 tokens (exact boundary), then a ZERO-token doc AT the
    // boundary (first_seq=1 > last_seq=0 — Spark's sequence() would
    // generate a DESCENDING phantom range), then a zero-token doc
    // mid-sequence, then a real doc
    val docs = Seq(("z", 0L, 50), ("z", 1L, 0), ("z", 2L, 7), ("z", 3L, 0),
      ("z", 4L, 43)).toDF("source", "doc_id", "n_tokens")
    val got = Packing.packManifest(docs, Seq("source"), "doc_id", "n_tokens", budget)
      .select($"seq_id", $"n_docs", $"first_doc", $"last_doc", $"n_tokens")
      .as[(Long, Long, Long, Long, Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq((0L, 1L, 0L, 0L, 50L), (1L, 2L, 2L, 4L, 50L)),
      s"zero-token docs must not appear in any sequence: $got")
    // and the offsets-continued form at the same boundary
    val gotFrom = Packing.packManifestFrom(
        Seq(("z", 10L, 0), ("z", 11L, 5)).toDF("source", "doc_id", "n_tokens"),
        Seq("source"), "doc_id", "n_tokens", budget,
        Seq(("z", 100L)).toDF("source", "base_tok"))
      .select($"seq_id", $"n_docs", $"n_tokens")
      .as[(Long, Long, Long)].collect().toSeq
    assert(gotFrom == Seq((2L, 1L, 5L)),
      s"a zero-token doc arriving exactly on a continued boundary must vanish: $gotFrom")
  }

  test("epochExpand: fixed-point copies match a JVM md5 oracle, incl. downsampling") {
    import spark.implicits._
    val docs = (1L to 200L).map(i => (i, if (i % 2 == 0) "a" else "b"))
      .toDF("doc_id", "source")
    // a ×2.25 (576/256), b ×0.5 (128/256)
    val got = graft.functions.Curation.epochExpand(docs, "doc_id", "source",
        Map("a" -> 576, "b" -> 128))
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("epoch_no")))
    val perDoc = got.groupBy(_._1).view.mapValues(_.length).toMap
    def bucket(id: Long): Int = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"epoch:$id".getBytes("UTF-8"))
      ((h(0) & 0xFF))
    }
    (1L to 200L).foreach { id =>
      val (full, rem) = if (id % 2 == 0) (2, 64) else (0, 128)
      val want = full + (if (bucket(id) < rem) 1 else 0)
      assert(perDoc.getOrElse(id, 0) == want, s"doc $id bucket ${bucket(id)}")
    }
    // epoch numbering is 1..n with no gaps
    got.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.map(_._2).sorted.toSeq == (1 to rows.length))
    }
  }

  test("epochExpand: sources missing from the recipe default to ×1, not a silent drop") {
    import spark.implicits._
    val docs = Seq((1L, "listed"), (2L, "unlisted"), (3L, "unlisted"))
      .toDF("doc_id", "source")
    val got = graft.functions.Curation.epochExpand(docs, "doc_id", "source",
        Map("listed" -> 512)) // listed ×2; unlisted takes the default 256
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("epoch_no")))
    assert(got.count(_._1 == 1L) == 2)
    assert(got.count(_._1 == 2L) == 1 && got.count(_._1 == 3L) == 1)
    // explicit opt-out: default 0 reproduces the old drop behavior
    val dropped = graft.functions.Curation.epochExpand(docs, "doc_id", "source",
        Map("listed" -> 512), defaultEpochs256 = 0)
      .collect().map(_.getAs[Long]("doc_id"))
    assert(dropped.forall(_ == 1L))
  }

  test("chunk: overlapping windows cover every token; md5 matches driver slice") {
    import spark.implicits._
    // 10 tokens, size 4, stride 3 → chunks [0,4) [3,7) [6,10); 3 tokens → [0,3)
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")),
      (2L, "a b c")).toDF("doc_id", "text")
    val got = Packing.chunk(docs, "doc_id", "text", size = 4, stride = 3)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("chunk_id")) ->
        ((r.getAs[Long]("start_tok"), r.getAs[Long]("end_tok"),
          r.getAs[String]("chunk_md5")))).toMap
    assert(got.keySet == Set((1L, 0L), (1L, 1L), (1L, 2L), (2L, 0L)))
    assert(got((1L, 0L))._1 == 0 && got((1L, 0L))._2 == 4)
    assert(got((1L, 2L))._1 == 6 && got((1L, 2L))._2 == 10)
    // md5 of the exact token slice
    def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(got((1L, 1L))._3 == md5("w4 w5 w6 w7"))
    assert(got((2L, 0L))._3 == md5("a b c"))
    // coverage: union of [start,end) is [0,n)
    val spans1 = got.filter(_._1._1 == 1L).values.map(v => (v._1, v._2)).toSeq.sorted
    assert(spans1.head._1 == 0 && spans1.last._2 == 10)
    spans1.sliding(2).foreach { case Seq(a, b) => assert(b._1 <= a._2); case _ => }
  }

  test("semanticDupPairs finds planted perturbed duplicates (recall 1.0)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val base = (0L until 200L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val planted = base.take(20).map { case (i, v) =>
      (i + 1000L, v.zipWithIndex.map { case (x, j) => x * (1.0f + (j % 5) / 200f) })
    }
    val emb = (base ++ planted).toDF("vec_id", "embedding")
    val pairs = SemDedup.semanticDupPairs(spark, emb, "vec_id", "embedding",
        threshold = 0.98, nlist = 8, nassign = 2)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val exact = SemDedup.exactDupPairs(emb, "vec_id", "embedding", 0.98)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(exact.nonEmpty && exact.subsetOf(pairs.union(exact)))
    assert((exact -- pairs).isEmpty, s"missed ${(exact -- pairs).size} of ${exact.size}")
    (0L until 20L).foreach(i => assert(pairs.contains((i, i + 1000L))))
  }

  test("stored semantic index: admit rejects dups of stored AND appended vectors") {
    import spark.implicits._
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "true")
    // the in-memory catalog forgets tables between JVMs but their
    // warehouse locations persist — clear both before re-creating
    Seq("semdedup_spec_idx", "semdedup_spec_idx_centroids").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        new java.net.URI(spark.conf.get("spark.sql.warehouse.dir")).getPath, t)
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          if (f.isDirectory) f.listFiles().foreach(rm)
          f.delete()
        }
        rm(loc)
      }
    }
    val rnd = new scala.util.Random(17)
    val corpus = (0L until 150L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val idx = IvfIndex.build(spark, corpus.toDF("vec_id", "embedding"),
      "vec_id", "embedding", nlist = 4, nassign = 2)
    IvfIndex.saveIndex(spark, idx, "semdedup_spec_idx")

    // day 1: 5 perturbed copies of stored vectors + 5 novel vectors
    val dupsOfStored = corpus.take(5).map { case (i, v) =>
      (i + 1000L, v.map(x => x * 1.0002f)) }
    val novel = (0 until 5).map(i =>
      (2000L + i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val day1 = (dupsOfStored ++ novel).toDF("vec_id", "embedding")
    val admitted = SemDedup.admitAgainstStored(spark, "semdedup_spec_idx", day1,
        "vec_id", "embedding", threshold = 0.98, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(admitted == novel.map(_._1).toSet,
      s"expected only novel ids admitted, got $admitted")

    // append what survived; day 2 duplicates an appended vector
    IvfIndex.appendToStored(spark, "semdedup_spec_idx",
      day1.filter(col("vec_id").isin(admitted.toSeq: _*)),
      "vec_id", "embedding", nassign = 2)
    val day2 = Seq((3000L, novel.head._2.map(x => x * 1.0001f)),
      (3001L, Array.fill(16)(rnd.nextGaussian().toFloat))).toDF("vec_id", "embedding")
    val admitted2 = SemDedup.admitAgainstStored(spark, "semdedup_spec_idx", day2,
        "vec_id", "embedding", threshold = 0.98, nprobe = 2)
      .select("vec_id").as[Long].collect().toSet
    assert(admitted2 == Set(3001L),
      s"dup of an appended vector must be rejected, got $admitted2")
  }

  test("SemDedup.keep drops exactly one of each planted pair") {
    import spark.implicits._
    val rnd = new scala.util.Random(13)
    val base = (0L until 100L).map(i => (i, Array.fill(16)(rnd.nextGaussian().toFloat)))
    val planted = base.take(10).map { case (i, v) => (i + 500L, v.map(x => x * 1.0001f)) }
    val emb = (base ++ planted).toDF("vec_id", "embedding")
    val kept = SemDedup.keep(spark, emb, "vec_id", "embedding",
        threshold = 0.98, nlist = 4, nassign = 2)
      .filter(col("keep")).select("doc_id").as[Long].collect().toSet
    assert(kept.size == 100)
    (0L until 10L).foreach { i =>
      assert(kept.contains(i) && !kept.contains(i + 500L))
    }
  }
}
