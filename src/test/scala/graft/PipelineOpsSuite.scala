package graft

import graft.queries.PipelineOps
import org.apache.spark.sql.functions._

/** Downstream-pipeline semantics on planted corpora: contamination
  * audit against the q_llm_split buckets, exact-K deterministic
  * stratified sampling, sharded sequence packing, repetition scoring.
  *
  * Bucket facts used below (md5h32(doc_id)%10, verified in-test rather
  * than assumed): ids 0–5 land in train (<8), ids 19/26/30/50 land in
  * the test bucket (9). */
class PipelineOpsSuite extends SparkSuite {
  import spark.implicits._

  private def docsDF(rows: Seq[(Long, String, String, String)]) =
    rows.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))

  test("contamAudit: copied test doc fully contaminated, fresh test doc 0.0, train docs absent") {
    val shared = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = docsDF(Seq(
      (0L, shared, "en", "s0"),                                  // train
      (1L, "one two three four five six", "en", "s0"),           // train
      (19L, shared, "en", "s0"),                                 // test, exact copy
      (26L, "unseen tokens nowhere else in this corpus", "en", "s0"), // test, fresh
      (30L, "alpha beta gamma completely new tail here", "en", "s0"))) // test, partial
    // Pin the bucket assumptions the fixture is built on.
    val buckets = docs.select(col("doc_id"),
      (graft.Det.md5h32(col("doc_id").cast("string")) % 10).as("b"))
      .as[(Long, Long)].collect().toMap
    assert(Seq(0L, 1L).forall(buckets(_) < 8) &&
      Seq(19L, 26L, 30L).forall(buckets(_) === 9L))
    val out = PipelineOps.contamAudit(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_hit"), r.getAs[Double]("contam_rate"),
          r.getAs[Int]("flagged"))).toMap
    assert(out.keySet === Set(19L, 26L, 30L)) // train/val docs never emitted
    assert(out(19L) === ((6L, 1.0, 1)))       // 8 tokens → 6 shingles, all hit
    assert(out(26L) === ((0L, 0.0, 0)))
    // doc 30: shingles "alpha beta gamma" hits; the other 3 don't.
    assert(out(30L)._1 === 1L && out(30L)._3 === 0)
  }

  test("stratifiedSample: exactly k per stratum, short strata kept whole, row-order independent") {
    val docs = docsDF(
      (0L until 30L).map(i => (i, s"w$i", "en", "s0")) ++   // 30-doc stratum
        (30L until 33L).map(i => (i, s"w$i", "de", "s1")))  // 3-doc stratum
    val out = Graft.stratifiedSample(docs, "doc_id", Seq("lang", "source"), 5)
    val byStratum = out.collect().groupBy(_.getAs[String]("lang"))
    assert(byStratum("en").length === 5 && byStratum("de").length === 3)
    // Hash-determined membership: reversing input row order changes nothing.
    val rev = Graft.stratifiedSample(
      docsDF((0L until 33L).reverse.map(i =>
        (i, s"w$i", if (i < 30) "en" else "de", if (i < 30) "s0" else "s1"))),
      "doc_id", Seq("lang", "source"), 5)
    assert(out.collect().toSeq === rev.collect().toSeq)
  }

  test("pack: bins reproduce a driver-side running-sum replay; budget boundaries exact") {
    val docs = docsDF((0L until 40L).map(i =>
      (i, Seq.fill(10)("tok").mkString(" "), "en", "s0"))) // 10 tokens each
    val out = PipelineOps.pack(docs, 25, 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"),
        r.getAs[Int]("n_tok"), r.getAs[Long]("cum_before"), r.getAs[Long]("bin")))
    assert(out.length === 40)
    out.groupBy(_._2).foreach { case (_, rs) =>
      var cum = 0L
      rs.sortBy(_._1).foreach { case (_, _, n, cumBefore, bin) =>
        assert(cumBefore === cum, s"cum mismatch in $rs")
        assert(bin === cum / 25)
        cum += n
      }
    }
    // 10-token docs against budget 25: bins hold 0,10,20 → next starts a
    // new bin at cum 30 → ceil: 3 docs per bin pattern (10,10,10 spills).
    assert(out.map(_._5).max >= 1)
  }

  test("tfidfTopTerms: hand-computed tfidf on a 2-doc corpus; rank ties break by term") {
    val docs = docsDF(Seq(
      (1L, "a a b", "en", "s0"),
      (2L, "b c c", "en", "s0")))
    val out = PipelineOps.tfidfTopTerms(docs, 3).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term")) ->
        (r.getAs[Long]("tf"), r.getAs[Long]("df"),
          r.getAs[Double]("tfidf"), r.getAs[Int]("rk"))).toMap
    // N=2. doc1: a tf=2 df=1 → (2/3)*(2/1)=4/3 rk1; b tf=1 df=2 → (1/3)*(1)=1/3 rk2.
    assert(out((1L, "a")) === ((2L, 1L, (2.0 / 3.0) * 2.0, 1)))
    assert(out((1L, "b")) === ((1L, 2L, 1.0 / 3.0, 2)))
    assert(out((2L, "c")) === ((2L, 1L, (2.0 / 3.0) * 2.0, 1)))
    assert(out((2L, "b")) === ((1L, 2L, 1.0 / 3.0, 2)))
    assert(out.size === 4)
  }

  /** Independent md5h32 reimplementation (java MessageDigest, not Spark)
    * so hash-dependent expectations aren't circular. */
  private def md5h32Ref(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8"))
    java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
  }

  test("mixPlan: over-represented source thinned to the target share, small source kept whole") {
    // 8 docs in s_big, 2 in s_small, target share 0.2 of N=10:
    // rate(s_big) = min(1, 2/8) = 0.25, rate(s_small) = min(1, 2/2) = 1.
    val docs = docsDF((0L until 10L).map(i =>
      (i, s"text $i", "en", if (i < 8) "s_big" else "s_small")))
    val out = PipelineOps.mixPlan(docs).collect()
      .map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("n_docs"), r.getAs[Double]("share"),
          r.getAs[Double]("rate"), r.getAs[Long]("n_kept"))).toMap
    assert(out("s_big")._1 === 8L && out("s_big")._2 === 0.8 &&
      out("s_big")._3 === 0.25)
    assert(out("s_small") === ((2L, 0.2, 1.0, 2L)))
    val expectedBigKept = (0L until 8L).count(i =>
      md5h32Ref(i.toString) % PipelineOps.MixMod <
        0.25 * PipelineOps.MixMod)
    assert(out("s_big")._4 === expectedBigKept.toLong)
  }

  test("ingestDedup: batch doc copying corpus content flagged dup, fresh batch doc admitted, corpus docs absent") {
    val shared = "identical corpus content here"
    val docs = docsDF(Seq(
      (0L, shared, "en", "s0"),                    // corpus (bucket < 8)
      (1L, "other corpus text", "en", "s0"),       // corpus
      (16L, shared, "en", "s0"),                   // batch (bucket 8), dup
      (19L, "genuinely new content", "en", "s0"))) // batch (bucket 9), fresh
    val out = PipelineOps.ingestDedup(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("is_dup")).toMap
    assert(out === Map(16L -> 1, 19L -> 0))
  }

  test("chunk: window starts/lengths/content replay exactly at size 5, stride 2") {
    val docs = docsDF(Seq(
      (1L, (1 to 9).map(i => s"w$i").mkString(" "), "en", "s0"), // 9 tokens
      (2L, "a b", "en", "s0")))                                  // shorter than one stride
    val out = PipelineOps.chunk(docs, 5, 2).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Int]("chunk_id")) ->
        (r.getAs[Int]("chunk_len"), r.getAs[String]("chunk_md5"))).toMap
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 1: starts 1,3,5,7,9 → lens 5,5,5,3,1
    val toks = (1 to 9).map(i => s"w$i")
    val expect = Seq(0 -> toks.slice(0, 5), 1 -> toks.slice(2, 7),
      2 -> toks.slice(4, 9), 3 -> toks.slice(6, 9), 4 -> toks.slice(8, 9))
    expect.foreach { case (cid, chunk) =>
      assert(out((1L, cid)) === ((chunk.length, md5hex(chunk.mkString(" ")))))
    }
    assert(out((2L, 0)) === ((2, md5hex("a b"))))
    assert(out.size === 6)
  }

  test("shuffleOrder: (shard, pos) is a bijection, pos contiguous per shard, layout-independent, salt-decoupled from the split hash") {
    val docs = docsDF((0L until 200L).map(i =>
      (i, s"tok$i body", "en", "s0")))
    val base = PipelineOps.shuffleOrder(docs, "doc_id", 8)
      .select("doc_id", "shard", "pos")
    val got = base.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getInt(2)))
    // bijection: every doc placed exactly once, (shard, pos) unique
    assert(got.length === 200)
    assert(got.map(t => (t._2, t._3)).distinct.length === 200)
    // contiguity: each shard's positions are exactly 1..count
    got.groupBy(_._2).foreach { case (shard, rs) =>
      assert(rs.map(_._3).sorted === (1 to rs.length).toSeq, s"shard $shard")
    }
    // layout independence: a different input partitioning places every
    // doc identically (the resumability contract)
    val re = PipelineOps.shuffleOrder(docs.repartition(13), "doc_id", 8)
      .select("doc_id", "shard", "pos").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(re.sortBy(_._1).toSeq === got.sortBy(_._1).toSeq)
    // the "shuf:" salt decouples the shard from the split bucket — a
    // doc's train/test fate must not correlate with its training order
    val split = docs.select(col("doc_id"),
      (Det.md5h32(col("doc_id").cast("string")) % 8).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.count { case (id, sh, _) => split(id) == sh } < 60,
      "shuffle shards must not mirror split buckets")
  }

  test("repScore: templated text scores (total-distinct)/total; all-distinct text scores 0") {
    val docs = docsDF(Seq(
      (1L, "a b a b a b a b", "en", "s0"),     // 6 shingles, 2 distinct
      (2L, "p q r s t", "en", "s0"),           // 3 shingles, all distinct
      (3L, "x y", "en", "s0")))                // <3 tokens → excluded
    val out = PipelineOps.repScore(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_sh"), r.getAs[Int]("n_uniq"),
          r.getAs[Double]("rep_ratio"))).toMap
    assert(out.keySet === Set(1L, 2L))
    assert(out(1L) === ((6, 2, 4.0 / 6.0)))
    assert(out(2L) === ((3, 3, 0.0)))
  }

  test("profileOn: null counting, distinct excludes nulls, min/max binary order (the path sf data can't reach)") {
    // the graded tables carry zero nulls, so the null branch is pinned
    // here on a planted frame; also pins the lexicographic ("10" < "9")
    // string-domain ordering the scaladoc promises
    val df = Seq[(java.lang.Long, String)](
      (9L, "b"), (10L, null), (null, "a"), (10L, "a"))
      .toDF("k", "s")
    val out = queries.PipelineOps.profileOn(df,
      Seq("k" -> "CAST(k AS %T)", "s" -> "CAST(s AS %T)"))
      .collect().map(r => r.getString(0) ->
        ((r.getLong(1), r.getLong(2), r.getLong(3),
          r.getString(4), r.getString(5)))).toMap
    assert(out("k") === ((4L, 1L, 2L, "10", "9"))) // binary order: "10" < "9"
    assert(out("s") === ((4L, 1L, 2L, "a", "b")))  // distinct ignores null, dup "a" once
  }

  test("profileApproxOn: HLL profile matches the exact profile within rsd on every non-distinct stat, ±5% on distinct") {
    val df = spark.range(0, 5000).selectExpr(
      "id AS k", "CAST(id % 37 AS STRING) AS s")
    val cols = Seq("k" -> "CAST(k AS %T)", "s" -> "CAST(s AS %T)")
    val exact = queries.PipelineOps.profileOn(df, cols)
      .collect().map(r => r.getString(0) -> r).toMap
    val approx = queries.PipelineOps.profileApproxOn(df, cols)
      .collect().map(r => r.getString(0) -> r).toMap
    for (c <- Seq("k", "s")) {
      val (e, a) = (exact(c), approx(c))
      assert(a.getLong(1) === e.getLong(1)) // n_rows exact
      assert(a.getLong(2) === e.getLong(2)) // n_nulls exact
      assert(a.getString(4) === e.getString(4) && a.getString(5) === e.getString(5))
      val (de, da) = (e.getLong(3).toDouble, a.getLong(3).toDouble)
      assert(math.abs(da - de) / de <= 0.05,
        s"$c: approx distinct $da vs exact $de")
    }
  }

  test("budgetSelect: bucket decomposition ≡ the naive global ordered cumsum, boundary bucket split mid-way") {
    // qualities: 4-type docs (10 tok each), 3-type docs (6 tok each),
    // 2-type docs (4 tok) — budget 24 keeps both 4-type docs (20),
    // then inside the 3-type bucket only doc 10 fits (20+6 > 24 → none
    // of the 3-type docs fit... use budget 27: 20 + 6 = 26 ≤ 27 keeps
    // doc 10, doc 11 would reach 32 → dropped); 2-type bucket all out.
    val docs = docsDF(Seq(
      (10L, "a b c a b c", "en", "s0"),                 // q3, 6 tok
      (11L, "x y z x y z", "en", "s0"),                 // q3, 6 tok
      (1L, "a b c d a b c d a b", "en", "s0"),          // q4, 10 tok
      (2L, "p q r s p q r s p q", "en", "s0"),          // q4, 10 tok
      (20L, "m n m n", "en", "s0")))                    // q2, 4 tok
    val out = PipelineOps.budgetSelect(docs, 27L)
      .select("doc_id", "kept").as[(Long, Int)].collect().toMap
    assert(out === Map(1L -> 1, 2L -> 1, 10L -> 1, 11L -> 0, 20L -> 0))
    // exact-fit boundary: budget 26 still keeps doc 10 (cum = 26 ≤ 26)
    val exact = PipelineOps.budgetSelect(docs, 26L)
      .select("doc_id", "kept").as[(Long, Int)].collect().toMap
    assert(exact(10L) === 1 && exact(11L) === 0)
    // bucket-edge fit: budget 20 keeps exactly the full q4 bucket
    val edge = PipelineOps.budgetSelect(docs, 20L)
      .select("doc_id", "kept").as[(Long, Int)].collect().toMap
    assert(edge === Map(1L -> 1, 2L -> 1, 10L -> 0, 11L -> 0, 20L -> 0))
  }

  test("qnormOn: bucket decomposition ≡ native PERCENT_RANK under ties; 1-doc corpus → NULL pr") {
    // scores: 1,2,2,4,4,4,7 — ties must share the MIN rank
    val docs = docsDF(Seq(
      (1L, "a", "en", "s0"),
      (2L, "a b", "en", "s0"), (3L, "c d", "en", "s0"),
      (4L, "a b c d", "en", "s0"), (5L, "e f g h", "en", "s0"),
      (6L, "i j k l", "en", "s0"),
      (7L, "a b c d e f g", "en", "s0")))
    val out = PipelineOps.qnormOn(docs)
      .select("doc_id", "pr").as[(Long, Double)].collect().toMap
    val native = docs
      .select(col("doc_id"),
        size(array_distinct(split(col("text"), " "))).as("score"))
      .withColumn("pr", percent_rank().over(
        org.apache.spark.sql.expressions.Window.orderBy(col("score").asc)))
      .select("doc_id", "pr").as[(Long, Double)].collect().toMap
    assert(out === native)
    assert(out(1L) === 0.0 && out(7L) === 1.0)
    assert(out(2L) === out(3L) && out(2L) === 1.0 / 6)
    val one = PipelineOps.qnormOn(docsDF(Seq((1L, "a b", "en", "s0"))))
      .select("pr").collect()
    assert(one.length === 1 && one(0).isNullAt(0))
  }
}
