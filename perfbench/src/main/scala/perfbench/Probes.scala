package perfbench

import graft.Functions
import graft.operators.{CollectionSearch, Fusion}
import graft.store.{Catalog, Collection, CollectionDef, FieldDef, FunctionDef, IndexDef}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Fixed-size measurements of layers a workload's traffic does not
  * reach, taken in traced runs after the traffic window.
  */
object Probes {

  /** Task nanoseconds per (row, query) pair of a standalone `vec_l2`
    * projection over the cached corpus vectors: 16 query vectors per
    * row, summed so nothing but the kernel is projected. Median of 5.
    */
  def l2NsPerPair(spark: SparkSession, coll: Collection, corpus: Corpus,
      listener: GroupListener): Double = {
    val vecs = coll.read(spark).select(Corpus.Vec).cache()
    val rows = vecs.count()
    val qs = corpus.queries.take(16).map { case (_, v) =>
      Functions.vecL2(col(Corpus.Vec), typedLit(v.toArray))
    }
    val sc = spark.sparkContext
    val runs = (0 until 5).map { r =>
      val g = s"kernel/$r"
      sc.setJobGroup(g, "kernel", interruptOnCancel = false)
      vecs.select(qs.reduce(_ + _).as("d")).agg(sum("d")).collect()
      sc.clearJobGroup()
      listener.drain()
      listener.counts(g).taskRunMs * 1e6 / (rows * qs.size)
    }
    vecs.unpersist()
    Stats.median(runs)
  }

  /** A seeded text corpus: Zipf-like draws over a 400-word vocabulary. */
  private def doc(seed: Long, id: Long): String = {
    val r = new java.util.SplittableRandom(seed + id)
    val n = 12 + r.nextInt(19)
    (0 until n).map { _ => val u = r.nextDouble(); s"t${(400 * u * u).toInt}" }
      .mkString(" ")
  }

  final case class TextProbe(bm25Ms: Double, bm25Jobs: Double, denseMs: Double,
      fusionMs: Double, requests: Int, violations: Seq[String])

  /** BM25 leg + dense leg (the collection's TEXT_EMBEDDING output) fused
    * by RRF, top-10, over 2,000 seeded docs; each leg and the fusion
    * timed on its own. Medians over `requests` calls.
    */
  def text(spark: SparkSession, cat: Catalog, seed: Long,
      listener: GroupListener, requests: Int = 10): TextProbe = {
    import spark.implicits._
    val textSeed = seed * 131L + 7L
    val c = cat.createCollection(CollectionDef("docs", Seq(
      FieldDef("doc_id", LongType, nullable = false, isPrimary = true),
      FieldDef("text", StringType))))
    c.insert(spark, (0L until 2000L).map(i => (i, doc(textSeed, i))).toDF("doc_id", "text"))
    c.addFunction(FunctionDef("enc", "TEXT_EMBEDDING", Seq("text"),
      Seq("text_vec"), Map("dim" -> "32")))
    c.createIndex(spark, IndexDef("text", "BM25"))
    val r = new java.util.SplittableRandom(textSeed)
    val t = new Tracer(spark.sparkContext)
    val bad = Seq.newBuilder[String]
    def ranked(qid: String, rows: Array[Row], higherBetter: Boolean): DataFrame = {
      val sorted = rows.sortBy(x => (if (higherBetter) -x.getAs[Double]("score")
        else x.getAs[Double]("score"), x.getAs[Long]("doc_id")))
      sorted.zipWithIndex.map { case (x, i) => (qid, x.getAs[Long]("doc_id"), i + 1) }
        .toSeq.toDF("qid", "doc_id", "rank")
    }
    val per = (0 until requests + 1).map { q =>
      val query = s"t${5 + r.nextInt(60)} t${5 + r.nextInt(60)}"
      val qid = s"t$q"
      val id = 1000000L + q
      val lex = t.span(id, "bm25")(
        CollectionSearch.searchText(spark, c, "text", query, Corpus.K).collect())
      val dense = t.span(id, "dense")(
        CollectionSearch.searchByQueryTextBatch(spark, c, "text_vec",
          Seq(qid -> query), Corpus.K,
          searchParams = Map("metric_type" -> "L2")).collect())
      val fused = t.span(id, "fusion")(
        Fusion.rrf(Seq(ranked(qid, lex, higherBetter = true),
          ranked(qid, dense, higherBetter = false)), Seq("doc_id"),
          limit = Corpus.K).collect())
      val legIds = (lex ++ dense).map(_.getAs[Long]("doc_id")).toSet
      if (lex.isEmpty || dense.size != Corpus.K || fused.size != Corpus.K ||
          !fused.forall(x => legIds(x.getAs[Long]("doc_id"))))
        bad += s"text request '$query': bm25 ${lex.length} dense ${dense.length} fused ${fused.length}"
      id
    }.drop(1) // the first request pays one-off set-up and is not counted
    listener.drain()
    def ms(name: String) = Stats.median(per.map(id =>
      t.spans.find(s => s.request == id && s.name == name).get.ms))
    TextProbe(ms("bm25"),
      Stats.median(per.map(id => listener.counts(s"$id/bm25").jobs.toDouble)),
      ms("dense"), ms("fusion"), per.size, bad.result())
  }
}
