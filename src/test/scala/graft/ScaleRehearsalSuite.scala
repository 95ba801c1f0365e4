package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.parse

/** [[ScaleRehearsal]]: every row of the probe table runs through the
  * harness's own runner at a small size, holds its planted truths and
  * frees what it made; a row that throws prints `error` and the run
  * goes on. */
class ScaleRehearsalSuite extends SparkSuite {
  private implicit val formats: Formats = DefaultFormats

  /** A row's small size: n = 6,000 rows, or g = 100 docs for the
    * edit-dedup band rows (sized in docs per band). */
  private def small(r: ScaleRehearsal.Row): Long =
    if (r.sizes.head >= 600000L) 6000L else 100L

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** The planted truths the probes state for their own `out`. */
  private val outTruths: Map[String, Long => Long] = Map(
    "neardup_pairs" -> (_ / 2), "ngram_pairs" -> (_ / 2),
    "contain_pairs" -> (n => n), "cc_flat" -> (n => n),
    "cc_chain8" -> (n => n), "labelprop_flat" -> (n => n),
    "labelprop_chain8" -> (n => n), "kcore_peel" -> (_ / 100),
    "projpairs_cut" -> (n => 12 * (n / 34)),
    "betweenness_chain" -> (_ => 15), "wbetweenness_chain" -> (_ => 15),
    "wsssp_chain" -> (_ => 21),
    "bloom_screen_hidup" -> (_ / 20), "bloom_plain_hidup" -> (_ / 20),
    "bloom_screen_lodup" -> (_ / 1000), "bloom_plain_lodup" -> (_ / 1000),
    "bloom_screen_bp8" -> (_ / 1000))

  test("every row runs at a small size: no error, planted truths hold, nothing left persisted") {
    val bloomPrior = spark.conf.getOption(ScaleRehearsal.BloomMaxItems)
    val table = ScaleRehearsal.rows(spark)
    assert(table.map(_.name).distinct.size == table.size, "duplicate row names")
    val bad = table.flatMap { r =>
      val n = small(r)
      val before = persisted
      val line = parse(ScaleRehearsal.run(r, n))
      val left = persisted -- before
      val err = (line \ "error").extractOpt[String].map(e => s"${r.name}: $e")
      val truth = outTruths.get(r.name).map(_(n)).filter(want =>
        (line \ "out").extractOpt[Long] != Some(want))
        .map(want => s"${r.name}: out ${line \ "out"} != $want")
      val leak = Some(left).filter(_.nonEmpty)
        .map(ids => s"${r.name}: left persisted RDDs $ids")
      err ++ truth ++ leak
    }
    assert(bad.isEmpty, bad.mkString("\n"))
    assert(spark.conf.getOption(ScaleRehearsal.BloomMaxItems) == bloomPrior)
  }

  test("a row that throws prints `error` in place of `out`, and the next row still runs") {
    val sc = spark.sparkContext // the runner traces on the active session
    val rows = Seq(
      ScaleRehearsal.Row("boom", Seq(5L), _ => () => {
        sc.parallelize(1 to 10, 2).count()
        sys.error("planted body failure")
      }),
      ScaleRehearsal.Row("boom_setup", Seq(5L),
        _ => sys.error("planted setup failure")),
      ScaleRehearsal.Row("next", Seq(5L), n => () => spark.range(n).count()))
    val lines = Seq.newBuilder[String]
    ScaleRehearsal.runAll(rows, "")(lines += _)
    val Seq(boom, setup, next) = lines.result().map(parse(_))
    assert((boom \ "error").extract[String].contains("planted body failure"))
    assert(boom \ "out" == JNothing)
    // the record still holds the job the body ran before it threw
    assert((boom \ "jobs").children.size == 1)
    assert((setup \ "error").extract[String].contains("planted setup failure"))
    assert((next \ "out").extract[Long] == 5L && next \ "error" == JNothing)
  }
}
