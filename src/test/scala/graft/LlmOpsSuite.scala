package graft

import graft.queries.LlmOps
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** §2.10 semantics on hand-built corpora (FIXTURES.md mini-docs /
  * mini-vectors), written as real parquet so the queries run their full
  * path, plus ANN recall on planted-cluster embeddings. */
class LlmOpsSuite extends SparkSuite {
  import spark.implicits._

  /** Mini corpus: exact dup (1,2), token-permutation (3), an exactly-0.8
    * Jaccard pair (4,5), an unrelated doc (6), a marker-laden doc (7). */
  private lazy val docsDir: String = {
    val dir = Files.createTempDirectory("graft_docs").toString
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "src0"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa", "en", "src0"),
      (3L, "kappa iota theta eta zeta epsilon delta gamma beta alpha", "en", "src0"),
      (4L, "t1 t2 t3 t4 t5 t6 t7 t8 t9", "en", "src0"),
      (5L, "t1 t2 t3 t4 t5 t6 t7 t8 tx", "en", "src0"),
      (6L, "solo words nothing shared here completely different tongue", "en", "src0"),
      (7L, "the a fast slow the", "en", "src0"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
    docs.coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  /** Mini vectors: collinear pair, orthogonal pair, a negated vector and
    * a cosine tie (v1 vs v4 seen from v0) exercising the id tiebreak. */
  private lazy val vecsDir: String = {
    val dir = Files.createTempDirectory("graft_vecs").toString
    def unit(dim: Int, scale: Float): Seq[Float] =
      Seq.tabulate(64)(i => if (i == dim) scale else 0.0f)
    val vecs = Seq(
      (0L, unit(0, 1.0f), 0),
      (1L, unit(0, 2.0f), 0),
      (2L, unit(1, 1.0f), 0),
      (3L, unit(0, -1.0f), 0),
      (4L, unit(0, 3.0f), 0))
      .toDF("vec_id", "embedding", "label")
    vecs.coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    dir
  }

  private def q(name: String, dir: String) = LlmOps.queries(name)(spark, dir)

  test("q_llm_dedup: md5 cluster {1,2}, keeper 1, others singletons") {
    val out = q("q_llm_dedup", docsDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("cluster_size"), r.getAs[Long]("keeper"))).toMap
    assert(out(1L) === (2L, 1L) && out(2L) === (2L, 1L))
    Seq(3L, 4L, 5L, 6L, 7L).foreach(id => assert(out(id) === (1L, id)))
  }

  test("q_llm_tri: the {1,2,3} clique closes into exactly one triangle; the lone (4,5) edge into none") {
    val out = q("q_llm_tri", docsDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"),
        r.getAs[Long]("doc_c")))
    assert(out.toSeq === Seq((1L, 2L, 3L)))
  }

  test("q_llm_neardup: permutation counts as dup; 0.8 boundary pair included") {
    val out = q("q_llm_neardup", docsDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jacc"))
      .toMap
    assert(out.keySet === Set((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L)))
    assert(out((1L, 2L)) === 1.0 && out((1L, 3L)) === 1.0)
    assert(out((4L, 5L)) === 0.8) // |∩|=8, |∪|=10 — exactly the threshold
  }

  test("q_llm_simsweep (r17): threshold curve on the mini corpus — inclusive integer boundaries, monotone counts") {
    val out = q("q_llm_simsweep", docsDir).collect()
      .map(r => r.getAs[Long]("t_pct") ->
        ((r.getAs[Long]("n_pairs"), r.getAs[Long]("n_docs")))).toMap
    spark.catalog.clearCache()
    // pairs ≥ 0.5: the J=1 triangle {1,2,3} + the J=0.8 pair (4,5)
    assert(out(50L) === ((4L, 5L)))
    assert(out(70L) === ((4L, 5L)))
    // 0.8 is INCLUSIVE via the exact integer test (8·5 ≥ 4·10)
    assert(out(80L) === ((4L, 5L)))
    // only the exact-dup triangle survives 0.9
    assert(out(90L) === ((3L, 3L)))
  }

  test("q_llm_dupshare (r17): token-weighted global-scope dup share — the non-keeper copy pays, exact micros") {
    // docsDir: docs 1,2 identical (10 tokens each, keeper 1) in src0;
    // all 7 docs are src0 ⟹ one row: 7 docs, 1 dup doc, dup tokens
    // = 10 of 54 total (10+10+10+9+9+8+... doc7 has 5 tokens incl a
    // repeat — size(split) counts occurrences: 10·3 + 9·2 + 8 + 5
    // hmm — assert against a recomputation instead of a hand sum
    val docs = spark.read.parquet(s"$docsDir/documents.parquet")
    val expTok = docs.selectExpr("size(split(text, ' ')) AS n")
      .collect().map(_.getInt(0).toLong).sum
    val out = q("q_llm_dupshare", docsDir).collect()
    spark.catalog.clearCache()
    assert(out.length === 1)
    val r = out(0)
    assert(r.getAs[Long]("n_docs") === 7L)
    assert(r.getAs[Long]("n_dup_docs") === 1L)
    assert(r.getAs[Long]("n_tokens") === expTok)
    assert(r.getAs[Long]("n_dup_tokens") === 10L)
    assert(r.getAs[Long]("dup_token_share_micro")
      === 10L * 1000000L / expTok)
  }

  test("q_llm_ngram is order-sensitive: permutation is NOT an n-gram dup") {
    val out = q("q_llm_ngram", docsDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jacc"))
      .toMap
    assert(out.keySet === Set((1L, 2L), (4L, 5L)))
    assert(out((1L, 2L)) === 1.0)
    assert(out((4L, 5L)) === 0.75) // 6 shared of 8 distinct shingles
  }

  test("q_llm_contain: permutation clique pairs BOTH directions; the 8/9 pair is excluded") {
    val out = q("q_llm_contain", docsDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("cont"))
      .toMap
    // docs 1/2/3 share one token SET → containment 1.0 in all 6 ordered
    // directions; (4,5) has cont = 8/9 < 0.9 and must NOT appear even
    // though its Jaccard (0.8) clears the symmetric query's threshold.
    assert(out.keySet === Set((1L, 2L), (2L, 1L), (1L, 3L), (3L, 1L),
      (2L, 3L), (3L, 2L)))
    assert(out.values.forall(_ === 1.0))
  }

  test("q_llm_contain: a short doc swallowed by a long one is caught (low Jaccard, high containment)") {
    // THE case Jaccard misses: |a|=10, b = a's tokens + 10 more chrome
    // tokens → J = 10/20 = 0.5 (far below 0.8) but cont(a→b) = 1.0.
    val dir = Files.createTempDirectory("graft_contain").toString
    Seq(
      (1L, (1 to 10).map(i => s"c$i").mkString(" "), "en", "s0"),
      (2L, ((1 to 10).map(i => s"c$i") ++ (1 to 10).map(i => s"w$i")).mkString(" "), "en", "s0"),
      (3L, "unrelated tokens entirely other text body", "en", "s0"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q("q_llm_contain", dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("cont"))
      .toMap
    assert(out.keySet === Set((1L, 2L)), s"got $out") // ordered: 1 ⊂ 2 only
    assert(out((1L, 2L)) === 1.0)
  }

  test("containmentCandidates: hot token stays bounded; the contained side prunes, the container side does not") {
    // Same hot-token economics as the Jaccard pin, asymmetric form: the
    // probe (contained) side indexes only its DF-ascending prefix, so
    // the max-DF "hot" token joins against an empty probe side — no
    // cross-pairing among the 60 hot-only docs. The planted contained
    // doc (120 ⊂ 121) must survive: its witness is a RARE token in the
    // probe prefix, found in the container's FULL posting list.
    val hotDocs = (0 until 60).map(i => (i.toLong, s"hot u${i}a u${i}b u${i}c u${i}d"))
    val pair = Seq(
      (120L, "hot p1 p2 p3 p4 p5 p6 p7 p8 p9"),
      (121L, ("hot" +: (1 to 9).map(i => s"p$i") ++: (1 to 6).map(i => s"q$i")).mkString(" ")))
    val feats = (hotDocs ++ pair).toDF("doc_id", "text")
      .select(col("doc_id"), lit("b").as("blk"),
        explode(array_distinct(split(col("text"), " "))).as("feat"))
    val cand = LlmOps.containmentCandidates(feats, Seq("blk"), 9, 10).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(cand.contains((120L, 121L)), s"contained pair lost: $cand")
    // no candidate pairs two hot-only docs — the hot posting list never
    // joined a probe prefix
    assert(cand.forall { case (a, b) => a >= 120L || b >= 120L },
      s"hot token leaked into candidates: $cand")
  }

  test("jaccardCandidates: planted hot token stays bounded; true near-dup pair survives") {
    // 60 docs sharing one boilerplate token ("hot", DF = 62) plus 4
    // unique tokens each: a naive inverted index joins hot's posting
    // list with itself → 60·59/2 = 1770 candidate pairs. DF-ascending
    // prefixes (t = 0.8, |x| = 5 ⟹ prefix = 2) rank "hot" LAST, so it
    // falls out of every prefix → zero cross-doc candidates.
    val hotDocs = (0 until 60).map(i => (i.toLong, s"hot u${i}a u${i}b u${i}c u${i}d"))
    // Plus a genuine near-dup pair (J = 9/11 < 0.8 fails verify but MUST
    // be a candidate; and a J = 1.0 pair) proving the filter loses no
    // qualifying pair even with the hot token present in both.
    val dupDocs = Seq(
      (100L, "hot x1 x2 x3 x4 x5 x6 x7 x8 x9"),
      (101L, "hot x1 x2 x3 x4 x5 x6 x7 x8 x9"),
      (102L, "hot x1 x2 x3 x4 x5 x6 x7 x8 zz"))
    val feats = (hotDocs ++ dupDocs).toDF("doc_id", "text")
      .select(col("doc_id"), lit("b").as("blk"),
        explode(array_distinct(split(col("text"), " "))).as("feat"))
    val cand = LlmOps.jaccardCandidates(feats, Seq("blk"), 4, 5).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(cand.contains((100L, 101L)), "exact dup pair must be a candidate")
    assert(cand.contains((100L, 102L)) && cand.contains((101L, 102L)),
      "J=9/11 pair must be a candidate (size bound 4*10<=5*10 passes)")
    // no candidate touches the hot-only docs — the hot posting list was
    // never joined
    assert(cand.forall { case (a, b) => a >= 100L && b >= 100L },
      s"hot token leaked into candidates: $cand")
  }

  test("q_llm_contain == brute-force ordered all-pairs containment truth on a randomized corpus") {
    // End-to-end exactness of the asymmetric pipeline (a-prefix × b-full
    // candidates, one-sided size bound, verify) against naive O(n²)
    // ordered truth — seeded random docs plus planted strict subsets.
    val rng = new scala.util.Random(7)
    val vocab = (1 to 25).map(i => s"w$i")
    val base = (0 until 40).map { i =>
      val n = 3 + rng.nextInt(10)
      (i.toLong, Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" "),
        s"l${i % 2}", s"s${(i / 2) % 2}")
    }
    val planted = (0 until 8).map { j =>
      val (_, text, l, s) = base(j * 4)
      val toks = text.split(" ").distinct
      val keep = toks.take(math.max(1, toks.length - (j % 2)))
      (200L + j, keep.mkString(" "), l, s)
    }
    val docs = base ++ planted
    val dir = Files.createTempDirectory("graft_contain_rand").toString
    docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val truth = (for {
      a <- docs; b <- docs
      if a._1 != b._1 && a._3 == b._3 && a._4 == b._4
      fa = a._2.split(" ").distinct
      fb = b._2.split(" ").distinct.toSet
      cont = fa.count(fb).toDouble / fa.length
      if cont >= 0.9
    } yield (a._1, b._1) -> cont).toMap
    val out = q("q_llm_contain", dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("cont"))
      .toMap
    assert(truth.nonEmpty, "fixture degenerated: no containment pairs planted")
    assert(out === truth)
  }

  test("neardup/ngram == brute-force all-pairs truth on a randomized corpus") {
    // End-to-end exactness of the full Spark pipelines (prefix filter,
    // window ranks, size bound, array_intersect verify) against naive
    // O(n²) driver-side truth — 60 seeded random docs incl. planted
    // exact dups and one-token edits, across 2×2 blocks.
    val rng = new scala.util.Random(99)
    val vocab = (1 to 30).map(i => s"w$i")
    val baseDocs = (0 until 50).map { i =>
      val n = 3 + rng.nextInt(10)
      val toks = Seq.fill(n)(vocab(rng.nextInt(vocab.size)))
      (i.toLong, toks.mkString(" "), s"l${i % 2}", s"s${(i / 2) % 2}")
    }
    val planted = (0 until 10).map { j =>
      val (id, text, l, s) = baseDocs(j * 3)
      val toks = text.split(" ")
      val edited = if (j % 2 == 0) toks
        else toks.updated(rng.nextInt(toks.length), "zz")
      (100L + j, edited.mkString(" "), l, s)
    }
    val docs = baseDocs ++ planted
    val dir = Files.createTempDirectory("graft_rand").toString
    docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def jaccPairs(feat: ((Long, String, String, String)) => Seq[String],
                  t: Double): Map[(Long, Long), Double] =
      (for {
        a <- docs; b <- docs
        if a._1 < b._1 && a._3 == b._3 && a._4 == b._4
        fa = feat(a).distinct; fb = feat(b).distinct
        if fa.nonEmpty && fb.nonEmpty
        common = fa.toSet.intersect(fb.toSet).size
        jacc = common.toDouble / (fa.size + fb.size - common)
        if jacc >= t
      } yield (a._1, b._1) -> jacc).toMap

    val tokTruth = jaccPairs(_._2.split(" ").toSeq, 0.8)
    val spark_nd = q("q_llm_neardup", dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jacc"))
      .toMap
    assert(spark_nd === tokTruth)

    def shingles(t: (Long, String, String, String)): Seq[String] = {
      val tk = t._2.split(" ").toSeq
      if (tk.length < 3) Seq.empty else tk.sliding(3).map(_.mkString(" ")).toSeq
    }
    val shTruth = jaccPairs(shingles, 0.2)
    val spark_ng = q("q_llm_ngram", dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("jacc"))
      .toMap
    assert(spark_ng === shTruth)
    // sanity: the planted exact dups actually produced pairs
    assert(tokTruth.keySet.exists(_._2 >= 100L))
  }

  test("q_llm_substr == driver-side window truth on a randomized corpus") {
    // Full-pipeline mirror against naive driver-side truth: sliding
    // K=5 windows per doc, a window is "dup" iff its text occurs in >= 2
    // distinct docs. Small vocab + planted copies force real sharing.
    val rng = new scala.util.Random(7)
    val vocab = (1 to 12).map(i => s"v$i")
    val baseDocs = (0 until 40).map { i =>
      val n = 2 + rng.nextInt(12) // includes docs below K (0 windows)
      (i.toLong, Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    // planted: exact copies (every window shared) and a shared prefix
    val planted = (0 until 6).map { j =>
      val (_, text) = baseDocs(j * 5)
      val t = if (j % 2 == 0) text
              else (text.split(" ").take(6) ++ Seq("u1", "u2", "u3")).mkString(" ")
      (200L + j, t)
    }
    val docs = baseDocs ++ planted
    val dir = Files.createTempDirectory("graft_substr_rand").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    val K = 5
    def wins(text: String): Seq[String] = {
      val tk = text.split(" ").toSeq
      if (tk.length < K) Seq.empty else tk.sliding(K).map(_.mkString(" ")).toSeq
    }
    val byDoc = docs.map { case (id, t) => id -> wins(t) }.toMap
    val docsPerWin = byDoc.toSeq.flatMap { case (id, ws) => ws.distinct.map(_ -> id) }
      .groupBy(_._1).map { case (w, xs) => w -> xs.map(_._2).distinct.size }
    val truth = byDoc.map { case (id, ws) =>
      id -> ((ws.size.toLong, ws.distinct.count(w => docsPerWin(w) >= 2).toLong))
    }
    val out = q("q_llm_substr", dir).collect().map(r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_win"), r.getAs[Long]("n_dupwin")))).toMap
    assert(out === truth)
    // sanity: the corpus actually exercised both regimes
    assert(truth.values.exists(_._2 > 0) && truth.values.exists(_._1 == 0L))
  }

  test("q_llm_minhash == independent driver-side mirror on a randomized corpus") {
    // Full-pipeline mirror: shingles, md5-derived 32-bit base, the
    // (a·x+b) mod p family, banding (band-key equality == equality of
    // the in-band signature tuple, since longs joined with '#' are
    // unambiguous), and the est_sim >= 0.5 emit rule — all recomputed
    // from scratch on the driver and compared exactly.
    val rng = new scala.util.Random(123)
    val vocab = (1 to 25).map(i => s"v$i")
    val base = (0 until 40).map { i =>
      val n = 2 + rng.nextInt(10) // includes <3-token docs (shingle filter)
      (i.toLong, Seq.fill(n)(vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val dups = (0 until 6).map(j => (200L + j, base(j * 5)._2)) // exact dups
    val docs = base ++ dups
    val dir = Files.createTempDirectory("graft_mh").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")

    def md5h32(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map("%02x".format(_)).mkString, 16)
    }
    val sigs: Map[Long, Seq[Long]] = docs.flatMap { case (id, text) =>
      val tk = text.split(" ").toSeq
      if (tk.length < 3) None else {
        val xs = tk.sliding(3).map(_.mkString(" ")).toSeq.distinct.map(md5h32)
        Some(id -> (0 until LlmOps.NumHashes).map(i =>
          xs.map(x => (LlmOps.hashA(i) * x + LlmOps.hashB(i)) % LlmOps.HashP).min))
      }
    }.toMap
    val ids = sigs.keys.toSeq.sorted
    val expected = (for {
      a <- ids; b <- ids if a < b
      shareBand = (0 until LlmOps.Bands).exists(bd =>
        sigs(a).slice(bd * 8, bd * 8 + 8) == sigs(b).slice(bd * 8, bd * 8 + 8))
      if shareBand
      est = (0 until LlmOps.NumHashes).count(i => sigs(a)(i) == sigs(b)(i)) /
        LlmOps.NumHashes.toDouble
      if est >= LlmOps.MinHashEstSim
    } yield (a, b) -> est).toMap
    val out = q("q_llm_minhash", dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("est_sim"))
      .toMap
    assert(out === expected)
    assert(expected.nonEmpty) // the planted dups produced est_sim = 1.0 pairs
  }

  test("q_llm_simhash == independent driver-side mirror on a randomized corpus") {
    val rng = new scala.util.Random(321)
    val vocab = (1 to 20).map(i => s"t$i")
    val docs = (0 until 30).map { i =>
      (i.toLong, Seq.fill(1 + rng.nextInt(12))(
        vocab(rng.nextInt(vocab.size))).mkString(" "))
    }
    val dir = Files.createTempDirectory("graft_sh").toString
    docs.toDF("doc_id", "text")
      .withColumn("lang", lit("en")).withColumn("source", lit("s"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def h16(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(2).map("%02x".format(_)).mkString, 16)
    }
    val expected = docs.map { case (id, text) =>
      val hs = text.split(" ").toSeq.distinct.map(h16)
      id -> (0 until 16).map { bit =>
        val vote = hs.map(h => if (((h >> bit) & 1L) == 1L) 1 else -1).sum
        if (vote > 0) 1L << bit else 0L
      }.sum
    }.toMap
    val out = q("q_llm_simhash", dir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(out === expected)
  }

  test("q_llm_simdup == brute-force hamming all-pairs truth (banding is lossless at ham <= 3)") {
    val rng = new scala.util.Random(77)
    val vocab = (1 to 15).map(i => s"t$i") // small vocab → sig collisions
    val docs = (0 until 40).map { i =>
      (i.toLong, Seq.fill(1 + rng.nextInt(10))(
        vocab(rng.nextInt(vocab.size))).mkString(" "),
        s"l${i % 2}", "s")
    }
    val dir = Files.createTempDirectory("graft_sd").toString
    docs.toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    def h16(s: String): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(2).map("%02x".format(_)).mkString, 16)
    }
    def sig(text: String): Long = {
      val hs = text.split(" ").toSeq.distinct.map(h16)
      (0 until 16).map { bit =>
        val vote = hs.map(h => if (((h >> bit) & 1L) == 1L) 1 else -1).sum
        if (vote > 0) 1L << bit else 0L
      }.sum
    }
    val truth = (for {
      a <- docs; b <- docs
      if a._1 < b._1 && a._3 == b._3 && a._4 == b._4
      ham = java.lang.Long.bitCount(sig(a._2) ^ sig(b._2))
      if ham <= 3
    } yield (a._1, b._1) -> ham).toMap
    val out = q("q_llm_simdup", dir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Int]("hamming")).toMap
    assert(out === truth)
    assert(truth.nonEmpty, "fixture produced no near-dup pairs — weaken the vocab")
  }

  test("q_llm_embdup_lsh == independent driver-side mirror on random embeddings") {
    // Mirror of the banded sign-LSH candidate rule (8 bands × 8 sign
    // bits over dims) + the cos >= 0.35 verify with 6dp HALF_UP rounding.
    val rng = new scala.util.Random(77)
    val vecs = (0 until 60).map { i =>
      (i.toLong, Seq.fill(64)((rng.nextGaussian()).toFloat), i % 3)
    }
    val dir = Files.createTempDirectory("graft_elsh").toString
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val dense = spark.read.parquet(s"$dir/embeddings.parquet")
      .select(col("vec_id"), col("label"),
        expr("transform(embedding, x -> cast(x as double))").as("e"))
      .collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Int]("label"),
        r.getAs[Seq[Double]]("e").toArray))
    def bucket(e: Array[Double], lo: Int): Int =
      (0 until 8).map(i => if (e(lo + i) > 0) 1 << i else 0).sum
    def cos6(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      BigDecimal(dot / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val expected = (for {
      (ia, la, ea) <- dense; (ib, lb, eb) <- dense
      if ia < ib && la == lb
      if (0 until 8).exists(bd => bucket(ea, bd * 8) == bucket(eb, bd * 8))
      sim = cos6(ea, eb) if sim >= 0.35
    } yield (ia, ib, sim)).toSet
    val out = q("q_llm_embdup_lsh", dir).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"), r.getAs[Double]("sim")))
      .toSet
    assert(out === expected)
  }

  test("jaccardCandidates: identical docs in different blocks never pair") {
    val feats = Seq(
      (1L, "en", "s0", "w1 w2 w3"), (2L, "en", "s1", "w1 w2 w3"),
      (3L, "de", "s0", "w1 w2 w3"), (4L, "en", "s0", "w1 w2 w3"))
      .toDF("doc_id", "lang", "source", "text")
      .select(col("doc_id"), col("lang"), col("source"),
        explode(array_distinct(split(col("text"), " "))).as("feat"))
    val cand = LlmOps.jaccardCandidates(feats, Seq("lang", "source"), 4, 5)
      .collect().map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(cand === Set((1L, 4L))) // only the same-(lang,source) pair
  }

  test("q_llm_minhash: identical docs estimated at 1.0; unrelated docs never candidates") {
    val out = q("q_llm_minhash", docsDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) -> r.getAs[Double]("est_sim"))
      .toMap
    assert(out((1L, 2L)) === 1.0)
    assert(out.values.forall(_ >= 0.5))
    assert(!out.keySet.exists { case (a, b) => Set(a, b).contains(6L) })
    assert(!out.keySet.contains((1L, 3L))) // permutation: disjoint shingles
  }

  test("minhashBands (per-row, stateless) candidate pairs cover the graded q_llm_minhash pairs") {
    // The streaming-safe per-row signature path must band identically to
    // the explode+groupBy path inside q_llm_minhash: its banded pair set
    // is a superset of the graded output (which additionally applies the
    // est_sim >= 0.5 verify), and the planted identical docs collide.
    val bands = LlmOps.minhashBands(Tables.documents(spark, docsDir))
    val x = bands.select(col("doc_id").as("a"), col("band"), col("bkey"))
    val y = bands.select(col("doc_id").as("b"),
      col("band").as("band2"), col("bkey").as("bkey2"))
    val cand = x.join(y, col("band") === col("band2")
        && col("bkey") === col("bkey2") && col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val graded = q("q_llm_minhash", docsDir).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    assert(graded.subsetOf(cand), s"graded=$graded cand=$cand")
    assert(cand.contains((1L, 2L)))
  }

  test("q_llm_simhash: signature depends on the token SET only") {
    val sig = q("q_llm_simhash", docsDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(sig(1L) === sig(2L) && sig(2L) === sig(3L))
    assert(sig(1L) !== sig(6L))
  }

  test("q_llm_wordcount: exact counts with (count desc, word asc) ordering") {
    val out = q("q_llm_wordcount", docsDir).collect()
      .map(r => (r.getAs[String]("word"), r.getAs[Long]("n")))
    assert(out.length === 20)
    assert(out.head === ("alpha", 3L)) // 10 words at count 3, alpha first
    assert(out.count(_._2 == 3L) === 10)
    assert(out.contains(("the", 2L))) // count-2 band: t1..t8, the
    assert(out.last === ("a", 1L)) // 19 words at count>=2; 20th: first count-1 word
  }

  test("q_llm_knn: collinear first, orthogonal mid, negated last; ties break by vec_id") {
    val probe0 = q("q_llm_knn", vecsDir).filter(col("probe_id") === 0)
      .orderBy(col("rk")).collect()
      .map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("sim")))
    assert(probe0.map(_._1).toSeq === Seq(1L, 4L, 2L, 3L))
    assert(probe0.map(_._2).toSeq === Seq(1.0, 1.0, 0.0, -1.0))
  }

  test("q_llm_embdup: exactly the three collinear pairs at sim 1.0") {
    val out = q("q_llm_embdup", vecsDir).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b"), r.getAs[Double]("sim")))
    assert(out.toSet === Set((0L, 1L, 1.0), (0L, 4L, 1.0), (1L, 4L, 1.0)))
  }

  test("q_llm_embdup_lsh finds the same collinear pairs (identical sign pattern)") {
    val out = q("q_llm_embdup_lsh", vecsDir).collect()
      .map(r => (r.getAs[Long]("vec_a"), r.getAs[Long]("vec_b")))
    assert(out.toSet === Set((0L, 1L), (0L, 4L), (1L, 4L)))
  }

  test("ANN recall@3 >= 0.8 on clustered embeddings (8 bits, Hamming-1 multi-probe)") {
    // 200 vectors in 10 tight clusters; ANN is meaningful here, unlike the
    // sf corpora whose embeddings are structureless (max cos ≈ 0.48 —
    // measured; no selective LSH can reach 0.8 recall there).
    val dir = Files.createTempDirectory("graft_clust").toString
    val rng = new scala.util.Random(7)
    val centers = Array.fill(10)(Array.fill(64)(rng.nextGaussian()))
    val vecs = (0 until 200).map { i =>
      val c = centers(i % 10)
      (i.toLong, c.map(x => (x + 0.05 * rng.nextGaussian()).toFloat).toSeq, i % 10)
    }
    vecs.toDF("vec_id", "embedding", "label")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/embeddings.parquet")

    // driver-side brute-force truth (double precision, same tiebreak)
    val dense = vecs.map { case (id, e, _) => id -> e.map(_.toDouble).toArray }.toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.sum
      BigDecimal(dot / (math.sqrt(a.map(x => x * x).sum) * math.sqrt(b.map(x => x * x).sum)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val truth = (0L until 5L).map { p =>
      p -> dense.keys.filter(_ != p).toSeq
        .sortBy(n => (-cos(dense(p), dense(n)), n)).take(3).toSet
    }.toMap

    val ann = LlmOps.annQuery(spark, dir, bits = 8, radius = 1, k = 3).collect()
      .groupBy(_.getAs[Long]("probe_id"))
      .map { case (p, rs) => p -> rs.map(_.getAs[Long]("neighbor_id")).toSet }
    val hits = truth.map { case (p, t) => (ann.getOrElse(p, Set.empty) & t).size }.sum
    val recall = hits.toDouble / (5 * 3)
    assert(recall >= 0.8, s"recall@3 = $recall")
  }

  test("multi-probe widens the candidate set monotonically on real sf0.001 embeddings") {
    val exact = LlmOps.annQuery(spark, sf, bits = 4, radius = 0, k = 3).count()
    val probed = LlmOps.annQuery(spark, sf, bits = 4, radius = 1, k = 3).count()
    val wide = LlmOps.annQuery(spark, sf, bits = 4, radius = 2, k = 3).count()
    assert(probed >= exact)
    assert(wide >= probed)
  }

  test("q_llm_annsweep (r17): full 9-row grid; cost and recall are monotone in radius/nprobe; the graded points sit at the grid optima") {
    val rows = q("q_llm_annsweep", sf).collect().map { r =>
      (r.getAs[String]("method"), r.getAs[Int]("p1"), r.getAs[Int]("p2")) ->
        ((r.getAs[Long]("n_cand"), r.getAs[Long]("n_hits"),
          r.getAs[Double]("macro_recall")))
    }.toMap
    spark.catalog.clearCache()
    assert(rows.size === 9, s"grid incomplete: ${rows.keys}")
    // radius 2 strictly widens the probe set for every bits config —
    // candidates and hits can only grow (a radius-1 candidate is a
    // radius-2 candidate; top-3 over a superset can lose a specific
    // hit, but n_cand is set-monotone and on the graded corpus the
    // measured recall is monotone too)
    for (b <- Seq(4, 6, 8)) {
      assert(rows(("lsh", b, 2))._1 >= rows(("lsh", b, 1))._1,
        s"bits=$b: radius-2 candidates shrank")
    }
    // fewer signature bits = coarser buckets = more candidates
    assert(rows(("lsh", 4, 1))._1 >= rows(("lsh", 6, 1))._1)
    assert(rows(("lsh", 6, 1))._1 >= rows(("lsh", 8, 1))._1)
    // probing more inverted lists can only add candidates
    assert(rows(("ivf", 4, 0))._1 >= rows(("ivf", 2, 0))._1)
    assert(rows(("ivf", 8, 0))._1 >= rows(("ivf", 4, 0))._1)
    // the graded operating points are the measured grid optima
    val bestLsh = rows.collect { case (("lsh", a, b), v) => ((a, b), v._3) }
      .maxBy(x => (x._2, -x._1._1, -x._1._2))
    assert(bestLsh._1 === ((4, 2)),
      s"graded lsh point (4,2) is no longer the grid optimum: $bestLsh")
    val bestIvf = rows.collect { case (("ivf", a, _), v) => (a, v._3) }
      .maxBy(x => (x._2, -x._1))
    assert(bestIvf._1 === 8,
      s"graded ivf point np=8 is no longer the grid optimum: $bestIvf")
  }

  test("q_llm_cc groups near-dup pairs into clusters: {1,2,3} rep 1, {4,5} rep 4") {
    // neardup pairs on the mini corpus: (1,2),(1,3),(2,3) and (4,5) —
    // the transitive triangle must collapse to ONE cluster.
    val out = q("q_llm_cc", docsDir).collect().map(r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("rep"), r.getAs[Long]("cluster_size"), r.getAs[Int]("is_rep"))))
      .toMap
    spark.catalog.clearCache()
    assert(out === Map(
      1L -> ((1L, 3L, 1)), 2L -> ((1L, 3L, 0)), 3L -> ((1L, 3L, 0)),
      4L -> ((4L, 2L, 1)), 5L -> ((4L, 2L, 0))))
  }

  test("editDupPairsOn: band is lossless at the length boundary, threshold is inclusive at D and exclusive at D+1, blocks scope pairs (r14)") {
    val D = 64
    val corpus = Seq(
      (1L, "abcdef", "en", "s0"),                    // len 6, bucket 0
      (2L, "abcxef", "en", "s0"),                    // dist(1,2) = 1
      (3L, "z" * 100, "en", "s0"),                   // far from everything
      (4L, "abcdef", "en", "s1"),                    // other block: no pair
      (5L, "abcdef" + "y" * D, "en", "s0"))          // len 70, bucket 1:
      .toDF("doc_id", "text", "lang", "source")      //   dist(1,5) = 64 exactly
    val out = LlmOps.editDupPairsOn(corpus, Seq("lang", "source"), D)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    // (1,5): length diff == D and dist == D — the band's ±1 neighbor
    // post and the inclusive threshold both at their boundary.
    // (2,5): dist 65 == D+1 — excluded by the verify, not the band.
    // (1,3)/(2,3): length diff 94 > D — excluded by the band itself.
    // (1,4): identical bytes but different block — never considered.
    assert(out.toSeq === Seq((1L, 2L, 1), (1L, 5L, D)))
  }

  test("editDupPairsOn: the L1 prescreen is LOSSLESS — identical pairs+distances with and without it on a randomized near-dup corpus (r15)") {
    // The prescreen (graft_charhist + graft_l1 <= 2*maxD) may only drop
    // pairs the DP would reject anyway. Randomized corpus engineered for
    // near-dups: mutations of a few base strings, unicode included.
    val rng = new scala.util.Random(23)
    val alpha = "abcdefgh xyéß"
    def base() = (0 until 30 + rng.nextInt(40))
      .map(_ => alpha(rng.nextInt(alpha.length))).mkString
    val bases = Seq.fill(8)(base())
    val rows = (1 to 120).map { i =>
      val b = bases(rng.nextInt(bases.length))
      val t = b.map(c =>
        if (rng.nextInt(12) == 0) alpha(rng.nextInt(alpha.length)) else c)
      (i.toLong, t, "en", s"s${rng.nextInt(2)}")
    }
    val corpus = rows.toDF("doc_id", "text", "lang", "source")
    val D = 8
    def run(pre: Boolean) =
      LlmOps.editDupPairsOn(corpus, Seq("lang", "source"), D, prescreen = pre)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSeq
    assert(run(true) === run(false),
      "prescreen changed the result set — the L1 bound is not lossless")
  }

  test("editDupPairsOn: planted mega-band is clipped to the cap's lowest ids; overflow audit reports the drop count (r15)") {
    val D = 8
    // 30 near-identical docs land in one (en, s0, band) group; two far
    // docs in another band stay untouched.
    val rows = (1 to 30).map(i =>
      (i.toLong, "the quick brown fox jumps over the lazy dog " + (i % 3),
        "en", "s0")) ++
      Seq((100L, "z" * 200, "en", "s0"), (101L, "z" * 199 + "y", "en", "s0"))
    val corpus = rows.toDF("doc_id", "text", "lang", "source")
    val cap = 10
    val pairs = LlmOps.editDupPairsOn(corpus, Seq("lang", "source"), D,
      bandCap = cap).collect().map(r => (r.getLong(0), r.getLong(1)))
    // only ids 1..10 (the cap lowest) may appear from the mega-band;
    // the small band's (100,101) pair survives untouched
    val mega = pairs.filter(_._1 < 100L)
    assert(mega.nonEmpty && mega.forall { case (x, y) => x <= cap && y <= cap },
      s"cap leaked ids beyond the $cap lowest: ${mega.toSeq}")
    assert(pairs.contains((100L, 101L)), "uncapped band lost its pair")
    val audit = LlmOps.editDupOverflowOn(corpus, Seq("lang", "source"), D, cap)
      .collect()
    assert(audit.length === 1)
    assert(audit(0).getAs[Long]("n_docs") === 30L &&
      audit(0).getAs[Long]("n_dropped") === 20L)
    // default cap is inert here: full pair set, empty audit
    val full = LlmOps.editDupPairsOn(corpus, Seq("lang", "source"), D)
      .collect().length
    val capped = LlmOps.editDupPairsOn(corpus, Seq("lang", "source"), D,
      bandCap = cap).collect().length
    assert(full > capped)
    assert(LlmOps.editDupOverflowOn(corpus, Seq("lang", "source"), D)
      .collect().isEmpty)
  }

  test("q_llm_substr: shared 5-token windows counted per doc; reversal shares none") {
    // K=5 windows on the mini corpus: docs 1,2 identical (6 windows, all
    // shared), doc 3 is the reversal (6 windows, none contiguous-equal),
    // docs 4,5 differ in the last token (5 windows, the 4 not touching
    // position 9 shared), docs 6 (4 windows) and 7 (1 window) unique.
    val out = q("q_llm_substr", docsDir).collect().map(r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_win"), r.getAs[Long]("n_dupwin")))).toMap
    assert(out === Map(
      1L -> ((6L, 6L)), 2L -> ((6L, 6L)), 3L -> ((6L, 0L)),
      4L -> ((5L, 4L)), 5L -> ((5L, 4L)), 6L -> ((4L, 0L)), 7L -> ((1L, 0L)))
    )
  }

  test("q_llm_substr edges: short doc has 0 windows; internal repetition is not cross-doc dup") {
    val dir = Files.createTempDirectory("graft_substr").toString
    Seq(
      // 11 tokens: the window "r1..r5" occurs TWICE inside doc 10 (rows
      // counted in n_win) but in no other doc — not a duplicate.
      (10L, "r1 r2 r3 r4 r5 z r1 r2 r3 r4 r5", "en", "s"),
      // shares "r1..r5" once with doc 10's two occurrences — each side
      // counts the hash ONCE (n_dupwin is over distinct window hashes).
      (11L, "r1 r2 r3 r4 r5 q7 q8 q9", "en", "s"),
      (12L, "too short here", "en", "s"))
      .toDF("doc_id", "text", "lang", "source")
      .withColumn("n_chars", length(col("text")).cast("long"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = q("q_llm_substr", dir).collect().map(r =>
      r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("n_win"), r.getAs[Long]("n_dupwin")))).toMap
    assert(out === Map(
      10L -> ((7L, 1L)), 11L -> ((4L, 1L)), 12L -> ((0L, 0L))))
  }

  test("q_llm_split: deterministic md5 bucketing, full coverage, fixed mapping") {
    val out = q("q_llm_split", docsDir).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("bucket"), r.getAs[String]("split")))
    assert(out.length === 7) // every doc gets a split
    assert(out.forall { case (_, b, s) =>
      b >= 0 && b < 10 &&
        s == (if (b < 8) "train" else if (b == 8) "val" else "test")
    })
    // hash-based, not rand(): a second evaluation is bit-identical
    val again = q("q_llm_split", docsDir).collect().map(r =>
      (r.getAs[Long]("doc_id"), r.getAs[Long]("bucket"), r.getAs[String]("split")))
    assert(out.toSeq === again.toSeq)
  }

  test("minhashQuery: explode, per-row HOF, and native signature forms are value-identical end-to-end") {
    // the three physical forms of the signature stage must agree
    // bitwise so any of them can be the graded form without touching
    // the oracle — in particular the native compiled expression must
    // reproduce the SQL md5/mod arithmetic exactly. The explode and
    // per-row HOF reference forms are built here; all three run
    // through the shared LSH body the graded q_llm_minhash runs.
    import LlmOps.{hashA, hashB, HashP, NumHashes}
    val withTk = Tables.documents(spark, sf)
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 3)
    // explode shingles → 64 hash columns → hash-aggregate 64 mins
    val hashed = withTk
      .select(col("doc_id"), explode(LlmOps.shinglesCol(col("tk"))).as("tok"))
      .withColumn("x", Det.md5h32(col("tok")))
      .select(col("doc_id") +: (0 until NumHashes).map(i =>
        ((lit(hashA(i)) * col("x") + lit(hashB(i))) % lit(HashP)).as(s"h$i")): _*)
    val explodeSig = hashed.groupBy(col("doc_id"))
      .agg(min(col("h0")).as("m0"),
        (1 until NumHashes).map(i => min(col(s"h$i")).as(s"m$i")): _*)
    // 64 array_min(transform(...)) columns over the shingle-hash array
    val hofSig = withTk
      .withColumn("xs", transform(LlmOps.shinglesCol(col("tk")), t => Det.md5h32(t)))
      .select(col("doc_id") +: (0 until NumHashes).map(i =>
        array_min(transform(col("xs"), x =>
          (lit(hashA(i)) * x + lit(hashB(i))) % lit(HashP))).as(s"m$i")): _*)
    def viaLsh(sig0: org.apache.spark.sql.DataFrame) = {
      val sig = Scope.eager(sig0)
      try LlmOps.lshMatches(LlmOps.lshBuckets(sig, LlmOps.Bands, LlmOps.RowsPerBand), sig)
        .withColumn("est_sim", col("m") / lit(NumHashes))
        .filter(col("est_sim") >= LlmOps.MinHashEstSim)
        .select(col("doc_a"), col("doc_b"), col("est_sim"))
        .orderBy(col("doc_a"), col("doc_b")).collect().toSeq
      finally spark.catalog.clearCache()
    }
    val a = viaLsh(explodeSig)
    val b = viaLsh(hofSig)
    val c = viaLsh(LlmOps.minhashSig(Tables.documents(spark, sf)))
    assert(a === b)
    assert(a === c)
    assert(a.nonEmpty) // sf0.001 has minhash pairs; vacuous parity would hide a broken filter
  }

  test("ivfDefaultQuantizer: centroid count is bounded and INDEPENDENT of corpus size") {
    // The 100× pin for the graded q_llm_ivf default: the quantizer that
    // gets collapsed into one collect_list row (and broadcast) must stay
    // ~K rows at any n. An every-Nth-vector rule fails this (count ∝ n);
    // the fixed-K stride passes at 10× the rows with the SAME count
    // bound, so the broadcast row is K × dim doubles forever.
    def base(n: Int) = spark.range(n)
      .select(col("id").as("vec_id"),
        array(lit(1.0), lit(0.0)).as("e"), lit(1.0).as("nrm"))
    val small = LlmOps.ivfDefaultQuantizer(base(1000)).count()
    val big = LlmOps.ivfDefaultQuantizer(base(10000)).count()
    assert(small >= 32 && small <= 34, s"n=1000 gave $small centroids")
    assert(big >= 32 && big <= 34, s"n=10000 gave $big centroids (unbounded quantizer?)")
    // degenerate corpora smaller than K: stride clamps to 1, every row
    // is a centroid, IVF degrades to exact kNN — correct, never empty
    assert(LlmOps.ivfDefaultQuantizer(base(5)).count() === 5)
  }

  test("winnow (K,W) guarantee: any shared run of >= K+W-1 tokens shares a fingerprint; short docs still sketch") {
    import spark.implicits._
    // run = exactly K+W−1 = 8 tokens; A is the bare run, B/C embed it
    // in different surroundings — all three must share >= 1 fingerprint
    val run = "alpha beta gamma delta epsilon zeta eta theta"
    val docs = Seq(
      (1L, run),
      (2L, s"prefix words here $run and a trailing tail too"),
      (3L, s"$run completely different continuation of text"),
      (4L, "unrelated content with no overlap whatsoever at all"),
      (5L, "tiny doc")) // < K tokens → zero grams, zero fingerprints
      .toDF("doc_id", "text")
    val fps = queries.LlmOps.winnowFps(docs).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Int]("n_grams"), r.getAs[Seq[Long]]("fps").toSet)).toMap
    val a = fps(1L)._2
    assert(a.nonEmpty && (a intersect fps(2L)._2).nonEmpty,
      "embedded run lost its fingerprint (guarantee broken)")
    assert((a intersect fps(3L)._2).nonEmpty)
    assert((a intersect fps(4L)._2).isEmpty, "unrelated docs collide")
    assert(fps(5L) === ((0, Set.empty[Long]))) // no grams → no fps
    // density: stored fingerprints ≪ grams on a long doc
    val (ng, f2) = fps(2L)
    assert(f2.size < ng, "winnowing stored every gram")
    // graded projection agrees with the set stage
    val out = queries.LlmOps.winnowOn(docs).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Int]("n_fp")).toMap
    assert(out === fps.view.mapValues(_._2.size).toMap)
  }

  test("winnowdup: true duplicates pair up; boilerplate shared by > MaxPosting docs cannot create pairs") {
    import spark.implicits._
    val boiler = "lorem ipsum dolor sit amet consectetur adipiscing elit"
    val longText = (1 to 30).map(i => s"tok$i").mkString(" ")
    // 55 docs = the shared 8-token boilerplate run + ONE unique token:
    // 2 windows each, window 1's min is always a shared run gram
    // (df = 55 > cap → dropped), window 2 contributes at most one more
    // shared fp — so boiler docs can share at most ONE kept fp, under
    // the MinShared=2 floor. Plus 2 true near-duplicates.
    val docs = ((1L to 55L).map(i => (i, s"$boiler unique$i")) ++
      Seq((100L, longText), (101L, longText + " tail")))
      .toDF("doc_id", "text")
    val pairs = queries.LlmOps.winnowDupOn(docs).collect()
      .map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
        r.getAs[Double]("jacc")).toMap
    assert(pairs.contains((100L, 101L)), "true dup pair missing")
    assert(pairs((100L, 101L)) > 0.5)
    // the boilerplate fingerprint's posting list (55 > 50) is dropped,
    // and the unique tails share nothing — no boilerplate-only pairs
    assert(pairs.keySet.forall { case (a, b) => a == 100L && b == 101L },
      s"boilerplate leaked pairs: ${pairs.keySet}")
    spark.catalog.clearCache()
  }
}
