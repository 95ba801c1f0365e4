package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** SURVEY §5.2.3 algebraic laws. Pure-Scala mirrors of the operators'
  * math run under ScalaCheck (raw Prop API — scalatestplus is not on
  * the offline classpath); Spark-level laws use the shared session on
  * generated micro-DataFrames. */
class PropertySuite extends AnyFunSuite {

  private def check(name: String)(p: Prop): Unit = {
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(100), p)
    assert(res.passed, s"$name: ${res.status}")
  }

  private val tokenSet: Gen[Set[String]] =
    Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf((1 to 20).map(i => s"t$i"))).map(_.toSet))

  private def jacc(a: Set[String], b: Set[String]): Double =
    a.intersect(b).size.toDouble / a.union(b).size

  test("Jaccard: symmetry, bounds, identity") {
    check("jaccard")(Prop.forAll(tokenSet, tokenSet) { (a, b) =>
      val j = jacc(a, b)
      j == jacc(b, a) && j >= 0.0 && j <= 1.0 && jacc(a, a) == 1.0
    })
  }

  test("size bound used by the near-dup prefilter: J >= t implies sizes within t ratio") {
    check("sizebound")(Prop.forAll(tokenSet, tokenSet) { (a, b) =>
      val t = 0.8
      jacc(a, b) < t || (t * a.size <= b.size + 1e-9 && t * b.size <= a.size + 1e-9)
    })
  }

  test("prefix filter is exact: every pair with J >= t shares a prefix feature (both prefixes)") {
    // Pure-Scala mirror of jaccardCandidates' pruning: features ordered
    // by (DF asc, feature asc); prefix = first |x| - ceil(t*|x|) + 1.
    // Zero false negatives must hold for every corpus.
    val corpus: Gen[List[Set[String]]] = Gen.resize(8, Gen.listOf(tokenSet))
    // both graded thresholds: neardup t=4/5, ngram t=1/5
    for ((tNum, tDen, tDbl) <- Seq((4, 5, 0.8), (1, 5, 0.2)))
      check(s"prefixfilter t=$tNum/$tDen")(Prop.forAll(corpus) { docs =>
        // same integer arithmetic as the helper: ceil(n·|x|/d) = (n|x|+d-1)/d
        val df = docs.flatten.groupBy(identity).view.mapValues(_.size).toMap
        def prefix(x: Set[String]): Set[String] = {
          val p = x.size - (tNum * x.size + tDen - 1) / tDen + 1
          x.toSeq.sortBy(f => (df(f), f)).take(p).toSet
        }
        docs.indices.forall { i =>
          docs.indices.drop(i + 1).forall { j =>
            val (a, b) = (docs(i), docs(j))
            jacc(a, b) < tDbl ||
              (prefix(a).intersect(prefix(b)).nonEmpty &&
                tNum * a.size <= tDen * b.size && tNum * b.size <= tDen * a.size)
          }
        }
      })
  }

  test("containment prefix filter is exact: every ordered pair with cont >= t shares a feature in a's prefix") {
    // Pure-Scala mirror of containmentCandidates' pruning (asymmetric:
    // only the CONTAINED side a prunes to its DF-ascending prefix; the
    // container b keeps every feature). Pigeonhole: |a∩b| ≥ ⌈t|a|⌉ >
    // |a's suffix|, so a witness lies in a's prefix. Zero false
    // negatives must hold for every corpus, plus the one-sided size
    // bound tNum·|a| ≤ tDen·|b|.
    val corpus: Gen[List[Set[String]]] = Gen.resize(8, Gen.listOf(tokenSet))
    val (tNum, tDen, tDbl) = (9, 10, 0.9) // the graded threshold
    check("containprefix t=9/10")(Prop.forAll(corpus) { docs =>
      val df = docs.flatten.groupBy(identity).view.mapValues(_.size).toMap
      def prefix(x: Set[String]): Set[String] = {
        val p = x.size - (tNum * x.size + tDen - 1) / tDen + 1
        x.toSeq.sortBy(f => (df(f), f)).take(p).toSet
      }
      docs.indices.forall { i =>
        docs.indices.forall { j =>
          val (a, b) = (docs(i), docs(j))
          i == j || a.isEmpty ||
            a.intersect(b).size.toDouble / a.size < tDbl ||
            (prefix(a).intersect(b).nonEmpty && tNum * a.size <= tDen * b.size)
        }
      }
    })
  }

  test("causal fold: violations equal the naive quadratic definition; prefix max is monotone") {
    val tsList = Gen.listOf(Gen.chooseNum(0L, 100L))
    check("causal")(Prop.forAll(tsList) { ts =>
      var maxTs = Long.MinValue; var n = 0L; var viol = 0L
      val prefixMaxes = ts.map { t =>
        if (n > 0 && t < maxTs) viol += 1
        maxTs = math.max(maxTs, t); n += 1; maxTs
      }
      val naive = ts.indices.count(i => i > 0 && ts(i) < ts.take(i).max)
      viol == naive && prefixMaxes == prefixMaxes.sorted
    })
  }

  test("decimal-domain sum is permutation-invariant (the §7.4 determinism argument)") {
    check("dsum")(Prop.forAll(Gen.listOf(Gen.chooseNum(-1e6, 1e6))) { xs =>
      def dsum(l: Seq[Double]): BigDecimal =
        l.map(BigDecimal(_).setScale(4, BigDecimal.RoundingMode.HALF_UP)).sum
      dsum(xs) == dsum(scala.util.Random.shuffle(xs))
    })
  }

  test("session labels (strict-gap merge) are monotone and hole-free") {
    check("session")(Prop.forAll(Gen.listOf(Gen.chooseNum(0L, 60L))) { gaps =>
      val ts = gaps.scanLeft(0L)(_ + _)
      val gap = 30L
      val sessionIds = ts.zip(Long.MinValue +: ts.dropRight(1)).scanLeft(0) {
        case (sid, (t, prev)) => if (prev == Long.MinValue || t - prev <= gap) sid else sid + 1
      }.drop(1)
      sessionIds.length == ts.length &&
        sessionIds.sorted == sessionIds &&
        (ts.isEmpty || sessionIds.distinct == (0 to sessionIds.max).toList)
    })
  }

  test("sequence-gap law: total missing == span minus count for any strictly increasing id set") {
    // The q_seq_gap / StreamOps.gapAudit invariant: telescoping the
    // per-adjacent-pair gaps gives missing_total = (last − first) −
    // (n − 1), independent of where the gaps fall; n_gaps counts the
    // jumped pairs and max_gap the widest jump.
    val idSet: Gen[List[Long]] =
      Gen.chooseNum(1, 20).flatMap(n =>
        Gen.listOfN(n, Gen.chooseNum(1L, 200L)).map(_.distinct.sorted))
    check("seqgap")(Prop.forAll(idSet) { ids =>
      val gaps = ids.zip(ids.drop(1)).map { case (a, b) => b - a - 1 }
      val missing = gaps.sum
      val expected = if (ids.isEmpty) 0L else ids.last - ids.head - (ids.length - 1)
      missing == expected &&
        gaps.count(_ > 0) <= math.max(0, ids.length - 1) &&
        (gaps.isEmpty || gaps.max <= missing)
    })
  }

  test("path law: transition count == events minus active keys, for any keyed timeline") {
    // The q_event_paths / StreamOps.paths conservation law: each key
    // with n_k >= 1 events contributes exactly n_k - 1 transitions
    // (every event except the key's first follows a predecessor), so
    // summing over keys: |transitions| = |events| - |active keys| —
    // independent of types, timestamps, or how events interleave.
    val timeline: Gen[List[(Long, String)]] =
      Gen.chooseNum(0, 30).flatMap(n =>
        Gen.listOfN(n, for {
          k <- Gen.chooseNum(1L, 5L)
          t <- Gen.oneOf("view", "click", "purchase")
        } yield (k, t)))
    check("paths")(Prop.forAll(timeline) { evs =>
      val byKey = evs.groupBy(_._1)
      val transitions = byKey.values.map(g =>
        g.map(_._2).zip(g.map(_._2).drop(1))).toList.flatten
      // independent recount via sliding windows — a different pairing
      // derivation must produce the identical multiset
      val slid = byKey.values.flatMap(g =>
        g.map(_._2).sliding(2).collect { case Seq(a, b) => (a, b) }).toList
      transitions.size == evs.size - byKey.size &&
        transitions.groupBy(identity).view.mapValues(_.size).toMap ==
          slid.groupBy(identity).view.mapValues(_.size).toMap
    })
  }

  test("retention-fold law: the shift-rebase mask fold is order-invariant and matches the set definition") {
    // StreamOps.retention's state transition, modeled exactly: cohort =
    // min hour seen; mask bit k set iff some event fell in cohort+k,
    // k <= 3. The fold claims commutativity (delivery-order freedom) —
    // pin it by folding random permutations and comparing to the
    // order-free set definition.
    val HourUs = 3600000000L
    def fold(tsList: List[Long]): (Long, Int) =
      tsList.foldLeft((Long.MaxValue, 0)) { case ((cohort, mask), ts) =>
        val h = ts - java.lang.Math.floorMod(ts, HourUs)
        if (cohort == Long.MaxValue) (h, 1)
        else if (h < cohort) {
          val shift = (cohort - h) / HourUs
          (h, if (shift > 3) 1 else ((mask << shift.toInt) & 0xF) | 1)
        } else {
          val k = (h - cohort) / HourUs
          if (k <= 3) (cohort, mask | (1 << k.toInt)) else (cohort, mask)
        }
      }
    val timeline: Gen[List[Long]] = for {
      n <- Gen.chooseNum(1, 12)
      // hours 0..9 with sub-hour jitter
      ts <- Gen.listOfN(n, for {
        hr <- Gen.chooseNum(0L, 9L); m <- Gen.chooseNum(0L, 3599L)
      } yield hr * HourUs + m * 1000000L)
    } yield ts
    check("retention")(Prop.forAll(timeline) { ts =>
      val hours = ts.map(t => t - java.lang.Math.floorMod(t, HourUs))
      val cohort = hours.min
      val expectMask = hours.map(h => (h - cohort) / HourUs)
        .filter(_ <= 3).map(k => 1 << k.toInt).foldLeft(0)(_ | _)
      // deterministic shuffle: seeded by the case itself
      val perms = Seq(ts, ts.reverse,
        new scala.util.Random(ts.hashCode.toLong).shuffle(ts))
      perms.forall(p => fold(p) == ((cohort, expectMask)))
    })
  }

  test("packing law: exclusive-cumsum bins are 0-based, monotone, counted exactly, and spill-bounded") {
    // The q_llm_pack / q_llm_packeff model: within a stream, doc i's bin
    // is floor(prefix-sum-before-i / budget). Laws for ANY length
    // sequence: bins start at 0 and never decrease; the bin count is
    // exactly floor((total − last)/budget) + 1; and total tokens are
    // bounded by capacity + one spilling doc (a doc is assigned where
    // its FIRST token lands, so only the stream's final doc can run
    // past the last bin's capacity): total < n_bins·budget + last_len.
    val lens: Gen[(List[Long], Long)] = for {
      n <- Gen.chooseNum(1, 40)
      ls <- Gen.listOfN(n, Gen.chooseNum(1L, 300L))
      b <- Gen.chooseNum(16L, 256L)
    } yield (ls, b)
    check("pack")(Prop.forAll(lens) { case (ls, budget) =>
      val cumBefore = ls.scanLeft(0L)(_ + _).init
      val bins = cumBefore.map(_ / budget)
      val nBins = bins.last + 1
      val total = ls.sum
      bins.head == 0L &&
        bins.zip(bins.drop(1)).forall { case (a, b) => a <= b } &&
        nBins == (total - ls.last) / budget + 1 &&
        total < nBins * budget + ls.last
    })
  }

  test("funnel law: greedy one-pass fold == min-based three-pass definition on any timeline") {
    // THE equivalence StreamOps.funnel's single pass rests on: processed
    // in (ts, stage, id) order, greedy first-match produces exactly the
    // batch query's min-based stage times (t_view = min view ts;
    // t_click = min click ts >= t_view; t_purchase = min purchase
    // ts >= t_click). Random timelines with heavy ts collisions
    // (ts drawn from 0..5) exercise the equal-timestamp edge the
    // in-batch stage ordering exists for.
    val event: Gen[(Long, Int, Long)] = for { // (ts, stage, id)
      ts <- Gen.chooseNum(0L, 5L)
      st <- Gen.chooseNum(0, 3) // 0=view 1=click 2=purchase 3=other
      id <- Gen.chooseNum(0L, 1000L)
    } yield (ts, st, id)
    check("funnel")(Prop.forAll(Gen.resize(25, Gen.listOf(event))) { evs =>
      // three-pass min-based definition
      val tView = evs.collect { case (ts, 0, _) => ts }.minOption
      val tClick = tView.flatMap(v =>
        evs.collect { case (ts, 1, _) if ts >= v => ts }.minOption)
      val tPurch = tClick.flatMap(c =>
        evs.collect { case (ts, 2, _) if ts >= c => ts }.minOption)
      // greedy one-pass over (ts, stage, id) order
      var (gv, gc, gp) = (-1L, -1L, -1L)
      evs.sortBy { case (ts, st, id) => (ts, st, id) }.foreach {
        case (ts, 0, _) if gv < 0 => gv = ts
        case (ts, 1, _) if gc < 0 && gv >= 0 && ts >= gv => gc = ts
        case (ts, 2, _) if gp < 0 && gc >= 0 && ts >= gc => gp = ts
        case _ => ()
      }
      (tView.getOrElse(-1L), tClick.getOrElse(-1L), tPurch.getOrElse(-1L)) ==
        ((gv, gc, gp))
    })
  }

  test("Spark law: unionAll count is additive, intersect is exact set intersection") {
    val spark = SharedSpark.spark
    import spark.implicits._
    val small = Gen.resize(20, Gen.listOf(Gen.chooseNum(0, 50)))
    check("setops")(Prop.forAll(small, small) { (xs: List[Int], ys: List[Int]) =>
      val a = xs.toDF("v"); val b = ys.toDF("v")
      val i = a.intersect(b).collect().map(_.getInt(0)).toSet
      a.unionAll(b).count() == xs.length + ys.length &&
        i == xs.toSet.intersect(ys.toSet)
    })
  }

  test("Spark law: Percentiles.disc/cont equal the driver-side order statistics on any multiset") {
    // The distinct-count + cumulative-window locate must be a pure
    // refactoring of "sort the multiset, pick/interpolate" — pinned
    // against the textbook definitions for every generated multiset
    // (duplicates, constants, singletons all arise). disc: smallest
    // value at 1-based rank ⌈p·n⌉; cont: linear interpolation at
    // 0-based rank p·(n−1). ScalaCheck shrinks any counterexample to a
    // minimal multiset. (Fewer iterations than the pure-Scala laws —
    // each trial is two Spark jobs.)
    val spark = SharedSpark.spark
    import spark.implicits._
    val vals = Gen.resize(24, Gen.nonEmptyListOf(Gen.chooseNum(-50, 50)))
    val prop = Prop.forAll(vals) { (xs: List[Int]) =>
      val sorted = xs.sorted.toVector
      val n = sorted.length
      val df = xs.map(v => ("g", v)).toDF("grp", "v")
      // disc at 1/2 and 9/10
      val d = graft.operators.Percentiles
        .disc(df, Seq("grp"), "v", Seq((1, 2, "p50"), (9, 10, "p90")))
        .collect()(0)
      def kth(num: Int, den: Int): Int =
        sorted(((num.toLong * n + den - 1) / den).toInt - 1) // ⌈p·n⌉, 1-based
      val discOk = d.getAs[Int]("p50") == kth(1, 2) &&
        d.getAs[Int]("p90") == kth(9, 10) && d.getAs[Long]("n") == n
      // cont at .5/.9 — replicate the exact expression shape in Scala
      val c = graft.operators.Percentiles
        .cont(df, Seq("grp"), "v", Seq(0.5 -> "p50", 0.9 -> "p90"))
        .collect()(0)
      def interp(p: Double): Double = {
        val r = p * (n - 1).toDouble
        val lo = sorted(math.floor(r).toInt).toDouble
        val hi = sorted(math.ceil(r).toInt).toDouble
        lo + (r - math.floor(r)) * (hi - lo)
      }
      val contOk = c.getAs[Double]("p50") == interp(0.5) &&
        c.getAs[Double]("p90") == interp(0.9)
      discOk && contOk
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, s"percentiles: ${res.status}")
  }

  test("Spark law: winsorizedMean equals the driver-side clip-at-disc-cuts mean on any multiset") {
    // The winsorized mean must be a pure refactoring of "find the disc
    // p05/p95 values, clip, average" — pinned against the naive
    // definition for every generated multiset, with EXACT double
    // equality (the engine's sum is exact integer arithmetic here, one
    // final IEEE division; the mirror runs the same sequence). Also
    // pins the degenerate law: (0,1)/(1,1) cuts clip nothing, so the
    // winsorized mean IS the plain mean.
    val spark = SharedSpark.spark
    import spark.implicits._
    val vals = Gen.resize(24, Gen.nonEmptyListOf(Gen.chooseNum(-50, 50)))
    val prop = Prop.forAll(vals) { (xs: List[Int]) =>
      val sorted = xs.sorted.toVector
      val n = sorted.length
      def kth(num: Int, den: Int): Int =
        sorted(math.max(1, ((num.toLong * n + den - 1) / den).toInt) - 1)
      val df = xs.map(v => ("g", v)).toDF("grp", "v")
      val w = graft.operators.Percentiles
        .winsorizedMean(df, Seq("grp"), "v").collect()(0)
      val (lo, hi) = (kth(1, 20), kth(19, 20))
      val clippedSum = xs.map(v => math.min(math.max(v, lo), hi).toLong).sum
      val winsorOk = w.getAs[Int]("winsor_lo") == lo &&
        w.getAs[Int]("winsor_hi") == hi &&
        w.getAs[Double]("winsor_mean") == clippedSum.toDouble / n &&
        w.getAs[Long]("n") == n
      val full = graft.operators.Percentiles
        .winsorizedMean(df, Seq("grp"), "v", lo = (0, 1), hi = (1, 1))
        .collect()(0)
      val meanOk =
        full.getAs[Double]("winsor_mean") == xs.map(_.toLong).sum.toDouble / n
      // the trimmed sibling against ITS naive definition (drop, not
      // clip; inclusive cuts) on the same multiset
      val t = graft.operators.Percentiles
        .trimmedMean(df, Seq("grp"), "v").collect()(0)
      val kept = xs.filter(v => v >= lo && v <= hi)
      val trimOk = t.getAs[Int]("trim_lo") == lo &&
        t.getAs[Int]("trim_hi") == hi &&
        t.getAs[Long]("n_kept") == kept.length &&
        t.getAs[Long]("n") == n &&
        t.getAs[Double]("trimmed_mean") ==
          kept.map(_.toLong).sum.toDouble / kept.length
      winsorOk && meanOk && trimOk
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, s"winsorizedMean/trimmedMean: ${res.status}")
  }

  test("Spark law: ksDrift equals the naive pooled-CDF max-gap on any two-sample multiset") {
    // The engine must be a pure refactoring of "walk the pooled distinct
    // values, compare the two empirical CDFs, take the max gap and its
    // smallest witness". EXACT double equality: both sides run the same
    // IEEE primitives (long→double cast, divide, subtract, abs) in the
    // same order, so not even an ulp may differ. One-sided inputs (a
    // generator case) must yield NULL stat/argmax, never a throw or an
    // engine-specific x/0 artifact.
    val spark = SharedSpark.spark
    import spark.implicits._
    val rows = Gen.resize(28,
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(-20, 20), Gen.oneOf(true, false))))
    val prop = Prop.forAll(rows) { (xs: List[(Int, Boolean)]) =>
      val df = xs.map { case (v, a) => ("g", v, a) }.toDF("grp", "v", "a")
      val r = graft.operators.Drift
        .ksDrift(df, Seq("grp"), "v", org.apache.spark.sql.functions.col("a"))
        .collect()(0)
      val va = xs.filter(_._2).map(_._1)
      val vb = xs.filterNot(_._2).map(_._1)
      val (na, nb) = (va.length, vb.length)
      val cntOk = r.getAs[Long]("n_a") == na && r.getAs[Long]("n_b") == nb
      if (na == 0 || nb == 0)
        cntOk && r.isNullAt(r.fieldIndex("ks_stat")) &&
          r.isNullAt(r.fieldIndex("ks_at"))
      else {
        val gaps = xs.map(_._1).distinct.sorted.map { v =>
          (v, math.abs(va.count(_ <= v).toLong.toDouble / na.toLong.toDouble
            - vb.count(_ <= v).toLong.toDouble / nb.toLong.toDouble))
        }
        val ks = gaps.map(_._2).max
        cntOk && r.getAs[Double]("ks_stat") == ks &&
          r.getAs[Int]("ks_at") == gaps.filter(_._2 == ks).map(_._1).min
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, s"ksDrift: ${res.status}")
  }

  test("Spark law: emdDrift equals the naive exact-rational CDF-area on any two-sample multiset") {
    // The engine's sum is exact integer arithmetic, so the mirror can be
    // an exact BigInt rational: Σ |cum_a·n_b − cum_b·n_a|·Δv over the
    // pooled axis, divided once and rounded the way Spark's round(_, 6)
    // rounds (BigDecimal HALF_UP). Any mismatch — a lost term, a
    // precision-truncated decimal, a different rounding mode — fails
    // exactly, not approximately.
    val spark = SharedSpark.spark
    import spark.implicits._
    val rows = Gen.resize(28,
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(-30, 30), Gen.oneOf(true, false))))
    val prop = Prop.forAll(rows) { (xs: List[(Int, Boolean)]) =>
      val df = xs.map { case (v, a) => ("g", v, a) }.toDF("grp", "v", "a")
      val r = graft.operators.Drift
        .emdDrift(df, Seq("grp"), "v", org.apache.spark.sql.functions.col("a"))
        .collect()(0)
      val va = xs.filter(_._2).map(_._1)
      val vb = xs.filterNot(_._2).map(_._1)
      val (na, nb) = (va.length, vb.length)
      val cntOk = r.getAs[Long]("n_a") == na && r.getAs[Long]("n_b") == nb
      if (na == 0 || nb == 0) cntOk && r.isNullAt(r.fieldIndex("emd"))
      else {
        val pooled = xs.map(_._1).distinct.sorted
        val s = pooled.zip(pooled.drop(1)).map { case (v, nxt) =>
          (BigInt(va.count(_ <= v)) * nb - BigInt(vb.count(_ <= v)) * na).abs *
            (nxt - v)
        }.sum
        val expect = BigDecimal(
          s.toDouble / (na.toDouble * nb.toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        cntOk && r.getAs[Double]("emd") == expect
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, s"emdDrift: ${res.status}")
  }

  test("Spark law: tvDrift equals the naive half-L1 pmf gap on any two-sample multiset") {
    // TV = ½ Σ_v |p_A(v) − p_B(v)| over the pooled support. The engine's
    // sum is exact integer arithmetic (Σ |ca·n_b − cb·n_a| in decimal),
    // so the mirror is an exact BigInt rational divided once and rounded
    // the way Spark's round(_, 6) rounds (BigDecimal HALF_UP). One-sided
    // inputs must yield NULL tv, never a throw or an x/0 artifact.
    val spark = SharedSpark.spark
    import spark.implicits._
    val rows = Gen.resize(28,
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(-30, 30), Gen.oneOf(true, false))))
    val prop = Prop.forAll(rows) { (xs: List[(Int, Boolean)]) =>
      val df = xs.map { case (v, a) => ("g", v, a) }.toDF("grp", "v", "a")
      val r = graft.operators.Drift
        .tvDrift(df, Seq("grp"), "v", org.apache.spark.sql.functions.col("a"))
        .collect()(0)
      val va = xs.filter(_._2).map(_._1)
      val vb = xs.filterNot(_._2).map(_._1)
      val (na, nb) = (va.length, vb.length)
      val cntOk = r.getAs[Long]("n_a") == na && r.getAs[Long]("n_b") == nb
      if (na == 0 || nb == 0) cntOk && r.isNullAt(r.fieldIndex("tv"))
      else {
        val s = xs.map(_._1).distinct.map { v =>
          (BigInt(va.count(_ == v)) * nb - BigInt(vb.count(_ == v)) * na).abs
        }.sum
        val expect = BigDecimal(
          s.toDouble / (2.0 * na.toDouble * nb.toDouble))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        cntOk && r.getAs[Double]("tv") == expect
      }
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, s"tvDrift: ${res.status}")
  }

  test("Spark law: PageRank equals the naive quantized-sum iteration on any digraph") {
    // The engine must be a pure refactoring of "for each node, sum its
    // in-neighbors' QUANTIZED contributions round(r(u)/outdeg(u)·1e12)
    // as exact integers, then round(0.15/n + 0.85·(s/1e12), 6)". The
    // mirror replays that exact program (same divisions, BigInt sum —
    // order-free by construction, which is the point of the quantized
    // design — same BigDecimal HALF_UP roundings Spark's round uses),
    // so equality is EXACT double equality per node, iteration by
    // iteration — self-loops, dangling nodes, duplicate edges included.
    val spark = SharedSpark.spark
    import spark.implicits._
    val edgesGen = Gen.resize(20,
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(0, 8), Gen.chooseNum(0, 8))))
    val prop = Prop.forAll(edgesGen) { (es: List[(Int, Int)]) =>
      val df = es.map { case (a, b) => (a.toLong, b.toLong) }.toDF("src", "dst")
      val got = graft.operators.PageRank.run(df, 3).collect()
        .map(row => row.getLong(0) -> row.getDouble(1)).toMap
      val edges = es.map { case (a, b) => (a.toLong, b.toLong) }.distinct
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val n = nodes.length.toDouble
      val outdeg = edges.groupBy(_._1).map { case (u, l) => u -> l.length }
      val inBySrc = edges.groupBy(_._2)
      var rank = nodes.map(v => v -> 1.0 / n).toMap
      for (_ <- 1 to 3) {
        val prev = rank
        rank = nodes.map { v =>
          val s = inBySrc.getOrElse(v, Nil).map(_._1)
            .map { u =>
              BigDecimal(prev(u) / outdeg(u).toDouble * 1e12)
                .setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt
            }.sum
          v -> BigDecimal(0.15 / n + 0.85 * (BigDecimal(s).toDouble / 1e12))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }.toMap
      }
      got == rank
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, s"PageRank: ${res.status}")
  }

  test("Spark law: weighted PageRank equals the naive quantized mirror; w=1 equals unweighted") {
    // Two laws in one pass: (a) runWeighted replays the quantized
    // program with c = r·w/W(src) exactly (duplicate (src,dst) rows sum
    // into one weighted edge first — the engine's groupBy contract);
    // (b) on all-1 weights it is bitwise the unweighted run (r·1.0 is
    // an IEEE identity), so the two entry points cannot drift apart.
    val spark = SharedSpark.spark
    import spark.implicits._
    val edgesGen = Gen.resize(16, Gen.nonEmptyListOf(
      Gen.zip(Gen.chooseNum(0, 6), Gen.chooseNum(0, 6), Gen.chooseNum(1L, 5L))))
    // noShrink: the shrinker ignores chooseNum's lower bound and
    // produces w = 0 edges, which the operator's contract excludes
    val prop = Prop.forAllNoShrink(edgesGen) { (es: List[(Int, Int, Long)]) =>
      val df = es.map { case (a, b, w) => (a.toLong, b.toLong, w) }
        .toDF("src", "dst", "w")
      val got = graft.operators.PageRank.runWeighted(df, 3).collect()
        .map(row => row.getLong(0) -> row.getDouble(1)).toMap
      val edges = es.groupBy(t => (t._1.toLong, t._2.toLong))
        .map { case ((a, b), l) => (a, b, l.map(_._3).sum) }.toList
      val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
      val n = nodes.length.toDouble
      val outw = edges.groupBy(_._1).map { case (u, l) => u -> l.map(_._3).sum }
      val inBySrc = edges.groupBy(_._2)
      var rank = nodes.map(v => v -> 1.0 / n).toMap
      for (_ <- 1 to 3) {
        val prev = rank
        rank = nodes.map { v =>
          val s = inBySrc.getOrElse(v, Nil)
            .map { case (u, _, w) =>
              BigDecimal(prev(u) * w.toDouble / outw(u).toDouble * 1e12)
                .setScale(0, BigDecimal.RoundingMode.HALF_UP).toBigInt
            }.sum
          v -> BigDecimal(0.15 / n + 0.85 * (BigDecimal(s).toDouble / 1e12))
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
        }.toMap
      }
      val mirrorOk = got == rank
      // w=1 equivalence holds on DEDUPED edges only: runWeighted SUMS
      // duplicate (src,dst) weights by contract, run() distincts them
      val ones = df.select($"src", $"dst").distinct()
        .withColumn("w", org.apache.spark.sql.functions.lit(1L))
      val viaW = graft.operators.PageRank.runWeighted(ones, 2).collect()
        .map(row => row.getLong(0) -> row.getDouble(1)).toMap
      val viaU = graft.operators.PageRank.run(
        df.select($"src", $"dst"), 2).collect()
        .map(row => row.getLong(0) -> row.getDouble(1)).toMap
      mirrorOk && viaW == viaU
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20), prop)
    assert(res.passed, s"weighted PageRank: ${res.status}")
  }

  test("Spark law: chiSquared equals the naive ordered-sum chi2 on any categorical pair sample") {
    // The mirror replays the SAME float program: per-cell (O−E)²/E in
    // (a, b) cell order, accumulated left-to-right — so equality is
    // exact pre-round, and the 6dp HALF_UP round is mirrored too. Also
    // pins dof/V/n_cells and the one-column degenerate (dof 0 → V NULL).
    val spark = SharedSpark.spark
    import spark.implicits._
    val rows = Gen.resize(30, Gen.nonEmptyListOf(
      Gen.zip(Gen.oneOf("p", "q", "r"), Gen.oneOf("x", "y"))))
    val prop = Prop.forAll(rows) { (xs: List[(String, String)]) =>
      val df = xs.toDF("ca", "cb")
      val r = graft.operators.Drift.chiSquared(df, "ca", "cb").collect()(0)
      val cells = xs.groupBy(identity).map { case ((a, b), g) => (a, b, g.size) }
        .toList.sortBy(c => (c._1, c._2))
      val n = xs.length
      val ra = cells.groupBy(_._1).map { case (k, g) => k -> g.map(_._3).sum }
      val cb = cells.groupBy(_._2).map { case (k, g) => k -> g.map(_._3).sum }
      var chi2 = 0.0
      cells.foreach { case (a, b, o) =>
        val e = ra(a).toDouble * cb(b).toDouble / n.toDouble
        chi2 += (o.toDouble - e) * (o.toDouble - e) / e
      }
      def r6(x: Double): Double =
        BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      val (nA, nB) = (ra.size, cb.size)
      val dof = (nA - 1L) * (nB - 1L)
      val mindim = math.min(nA, nB) - 1
      val chiOk = r.getAs[Double]("chi2") == r6(chi2) &&
        r.getAs[Long]("dof") == dof &&
        r.getAs[Long]("n_cells") == cells.length && r.getAs[Long]("n") == n
      val vOk =
        if (mindim > 0)
          r.getAs[Double]("cramers_v") ==
            r6(math.sqrt(chi2 / (n.toDouble * mindim.toDouble)))
        else r.isNullAt(r.fieldIndex("cramers_v"))
      chiOk && vOk
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(30), prop)
    assert(res.passed, s"chiSquared: ${res.status}")
  }

  test("Spark law: weighted Percentiles.disc == unweighted disc over the replicated multiset") {
    // The weighted percentile's DEFINING property: attaching weight w to
    // a row must give exactly the result of physically replicating the
    // row w times — pinned for generated (value, weight) lists so the
    // cumulative-weight rank arithmetic can't drift from the semantics
    // it compresses.
    val spark = SharedSpark.spark
    import spark.implicits._
    val rows = Gen.resize(12,
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(-20, 20), Gen.chooseNum(1, 4))))
    val prop = Prop.forAll(rows) { (vw: List[(Int, Int)]) =>
      val weighted = graft.operators.Percentiles
        .disc(vw.map { case (v, w) => ("g", v, w) }.toDF("grp", "v", "w"),
          Seq("grp"), "v", Seq((1, 2, "p50"), (9, 10, "p90")), Some("w"))
        .collect()(0)
      val replicated = graft.operators.Percentiles
        .disc(vw.flatMap { case (v, w) => Seq.fill(w)(("g", v)) }
            .toDF("grp", "v"),
          Seq("grp"), "v", Seq((1, 2, "p50"), (9, 10, "p90")))
        .collect()(0)
      weighted.getAs[Int]("p50") == replicated.getAs[Int]("p50") &&
        weighted.getAs[Int]("p90") == replicated.getAs[Int]("p90") &&
        weighted.getAs[Long]("n") == replicated.getAs[Long]("n")
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, s"weighted percentiles: ${res.status}")
  }

  test("Spark law: weighted Percentiles.cont == unweighted cont over the replicated multiset") {
    // r9: cont gained the weightCol that disc had — same defining
    // property, and EXACT double equality is required (not tolerance):
    // the weighted path ranks at p·(W−1) over the same cumulative
    // ranges the replicated multiset produces, and the interpolation
    // expression shape is identical, so the IEEE sequences coincide.
    val spark = SharedSpark.spark
    import spark.implicits._
    val rows = Gen.resize(12,
      Gen.nonEmptyListOf(Gen.zip(Gen.chooseNum(-20, 20), Gen.chooseNum(1, 4))))
    val prop = Prop.forAll(rows) { (vw: List[(Int, Int)]) =>
      val weighted = graft.operators.Percentiles
        .cont(vw.map { case (v, w) => ("g", v, w) }.toDF("grp", "v", "w"),
          Seq("grp"), "v", Seq(0.5 -> "p50", 0.9 -> "p90"), Some("w"))
        .collect()(0)
      val replicated = graft.operators.Percentiles
        .cont(vw.flatMap { case (v, w) => Seq.fill(w)(("g", v)) }
            .toDF("grp", "v"),
          Seq("grp"), "v", Seq(0.5 -> "p50", 0.9 -> "p90"))
        .collect()(0)
      weighted.getAs[Double]("p50") == replicated.getAs[Double]("p50") &&
        weighted.getAs[Double]("p90") == replicated.getAs[Double]("p90") &&
        weighted.getAs[Long]("n") == replicated.getAs[Long]("n")
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(25), prop)
    assert(res.passed, s"weighted cont percentiles: ${res.status}")
  }

  test("quiet law: consecutive gaps exactly tile the silence for any active-day set") {
    // span = active + silent AND Σ gaps == silent AND max_gap ≤ silent
    // — the q_event_quiet identities (silent days are exactly the
    // union of the inter-active holes, disjoint by construction)
    val daySet: Gen[List[Long]] = Gen.chooseNum(1, 25).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0L, 400L)).map(_.distinct.sorted))
    check("quiet")(Prop.forAll(daySet) { ds =>
      val span = ds.max - ds.min + 1
      val silent = span - ds.size
      val gaps = ds.zip(ds.tail).map { case (a, b) => b - a - 1 }
      gaps.sum == silent &&
        (gaps.isEmpty || gaps.max <= silent) &&
        gaps.count(_ > 0) <= silent
    })
  }

  test("seasonality law: the multiplied-out chi-square is non-negative, zero exactly on the uniform 7-cell profile, and scales linearly") {
    // 7·Σo² − n² ≥ 0 (Cauchy-Schwarz over ≤7 cells), == 0 iff all 7
    // equal; scaling every count by m scales X² = (7Σo²−n²)/n by m —
    // the q_event_seasonality statistic's integer identities
    val cells: Gen[List[Long]] = Gen.chooseNum(1, 7).flatMap(k =>
      Gen.listOfN(k, Gen.chooseNum(1L, 1000L)))
    check("seasonality")(Prop.forAll(cells, Gen.chooseNum(1L, 9L)) { (cs, m) =>
      def stat(xs: List[Long]) = {
        val n = BigInt(xs.sum); val s2 = xs.map(c => BigInt(c) * c).sum
        (BigInt(7) * s2 - n * n, n)
      }
      val (num, n) = stat(cs)
      val (numM, nM) = stat(cs.map(_ * m))
      num >= 0 &&
        ((num == 0) == (cs.size == 7 && cs.distinct.size == 1)) &&
        numM * n == num * nM * m // X²(m·c) = m·X²(c), cross-multiplied
    })
  }

  test("gapsweep laws (r17): session counts are monotone non-increasing in the gap, bracketed by [users, events], translation-invariant") {
    // pure-Scala mirror of the boundary rule: a session boundary at
    // threshold G is "first event of the key" or "gap > G"
    def sessions(ts: Map[Long, List[Long]], gUs: Long): Long =
      ts.values.map { xs =>
        val s = xs.sorted
        1L + s.zip(s.tail).count { case (a, b) => b - a > gUs }
      }.sum
    val events: Gen[Map[Long, List[Long]]] =
      Gen.chooseNum(1, 5).flatMap(nu => Gen.mapOfN(nu,
        Gen.zip(Gen.chooseNum(1L, 5L),
          Gen.nonEmptyListOf(Gen.chooseNum(0L, 10000L)))))
    check("gapsweep")(Prop.forAll(events, Gen.chooseNum(1L, 500L),
      Gen.chooseNum(0L, 9999L)) { (ev, g, shift) =>
      val s1 = sessions(ev, g)
      val s2 = sessions(ev, g * 2)
      val nU = ev.size.toLong
      val nE = ev.values.map(_.size.toLong).sum
      s2 <= s1 && s1 <= nE && s2 >= nU &&
        sessions(ev.view.mapValues(_.map(_ + shift)).toMap, g) == s1
    })
  }

  test("modularity mirror law (r17): Spark modularityOn equals a BigInt driver replay on random labeled graphs; single community is exactly 0") {
    val spark = SharedSpark.spark
    import spark.implicits._
    val rnd = new scala.util.Random(17)
    for (trial <- 1 to 6) {
      val n = 6 + rnd.nextInt(6)
      val und = (for {
        a <- 1L to n.toLong; b <- (a + 1) to n.toLong
        if rnd.nextDouble() < 0.4
      } yield (a, b)).toList
      if (und.nonEmpty) {
        val labels = (1L to n.toLong).map(v =>
          (v, (rnd.nextInt(3) + 1).toLong))
        val edges = und.flatMap { case (a, b) => Seq((a, b), (b, a)) }
        // BigInt replay of the exact contract: A = directed
        // in-community edges, B = sum of squared community degree
        // sums, M2 = directed edges; q_micro = the shifted floor
        val lab = labels.toMap
        val m2 = BigInt(edges.size)
        val byC = edges.groupBy(e => lab(e._1))
        val aSum = BigInt(edges.count(e => lab(e._1) == lab(e._2)))
        val bSum = byC.values.map(es => BigInt(es.size) * es.size).sum
        val expMicro =
          (((aSum * m2 - bSum + m2 * m2) * 1000000) / (m2 * m2)
            - 1000000).toLong
        val got = queries.GraphOps.modularityOn(
            edges.toDF("src", "dst"), labels.toDF("node", "label"))
          .collect()(0)
        assert(got.getAs[Long]("q_micro") === expMicro,
          s"trial $trial: engine diverged from the BigInt replay")
        val gotOne = queries.GraphOps.modularityOn(
            edges.toDF("src", "dst"),
            labels.map { case (v, _) => (v, 1L) }.toDF("node", "label"))
          .collect()(0)
        assert(gotOne.getAs[Long]("q_micro") === 0L,
          s"trial $trial: single-community Q must be exactly 0")
        spark.catalog.clearCache()
      }
    }
  }

  test("Theil-Sen law: a perfect line's median slope is its slope; translation never moves any slope; the median is bracketed") {
    val series: Gen[List[(Long, Long)]] = Gen.chooseNum(2, 14).flatMap(k =>
      Gen.listOfN(k, Gen.zip(Gen.chooseNum(0L, 200L), Gen.chooseNum(1L, 50L)))
        .map(_.groupBy(_._1).map { case (d, vs) => d -> vs.head._2 }
          .toList.sortBy(_._1))
        .suchThat(_.size >= 2))
    def slopes(xs: List[(Long, Long)]) = for {
      (d1, n1) <- xs; (d2, n2) <- xs if d1 < d2
    } yield ((n2 - n1).toDouble / (d2 - d1).toDouble, d1, d2)
    def med(ss: List[(Double, Long, Long)]) = {
      val s = ss.sortBy(identity); s((s.size + 1) / 2 - 1)._1
    }
    check("theilsen")(Prop.forAll(series, Gen.chooseNum(-5L, 5L),
      Gen.chooseNum(1L, 100L)) { (xs, a, shift) =>
      val line = xs.map { case (d, _) => (d, 100L + a * d) } // planted slope a
      val ss = slopes(xs)
      med(slopes(line)) == a.toDouble &&
        slopes(xs.map { case (d, n) => (d, n + shift) }) == ss &&
        (med(ss) >= ss.map(_._1).min && med(ss) <= ss.map(_._1).max)
    })
  }
}
