package perfbench

import graft.datagen.StableGen
import graft.operators.CollectionSearch
import graft.store.{Catalog, Collection, CollectionDef, FieldDef, IndexDef}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** The served collection and its query stream, both pure functions of
  * the seed: row vectors are `StableGen.floatVector(seed, pk)`, query
  * vectors come from a disjoint pk range of a second seed, so no query
  * equals a corpus row. The engine only ever sees the generated rows
  * and query vectors.
  */
final case class Corpus(seed: Long, rows: Int) {
  import Corpus._

  val querySeed: Long = seed * 31L + 17L

  /** The 128-query stream every search workload cycles through. */
  val queries: IndexedSeq[(String, Seq[Float])] = (0 until NumQueries).map { i =>
    s"q$i" -> StableGen.floatVector(querySeed, QueryPkBase + i, Dim).toSeq
  }

  def definition(name: String, props: Map[String, String]): CollectionDef =
    CollectionDef(name, Seq(
      FieldDef(Pk, LongType, nullable = false, isPrimary = true),
      FieldDef(Category, LongType, nullable = false),
      FieldDef(Vec, ArrayType(FloatType), dim = Some(Dim))),
      properties = props)

  /** Category of a generated row: uniform over 0..9, so the filter
    * `category in [1,3,5,7,9]` keeps half the corpus. Writer-inserted
    * rows are always in that band.
    */
  def category(pk: Long): Long = Math.floorMod(pk * 7L + seed, 10L)

  /** Insert the corpus, compact it to one unique base, build the IVF
    * index. Returns the collection and each phase's wall in seconds.
    */
  def build(spark: SparkSession, cat: Catalog, name: String,
      props: Map[String, String]): (Collection, Map[String, Double]) = {
    import spark.implicits._
    val c = cat.createCollection(definition(name, props))
    val t0 = System.nanoTime()
    val df = spark.sparkContext.range(0L, rows.toLong, numSlices = 4)
      .map(pk => (pk, category(pk), StableGen.floatVector(seed, pk, Dim).toSeq))
      .toDF(Pk, Category, Vec)
    c.insert(spark, df)
    val t1 = System.nanoTime()
    c.compact(spark)
    val t2 = System.nanoTime()
    c.createIndex(spark, IndexDef(Vec, "IVF_FLAT", Some("L2"),
      Map("nlist" -> Nlist.toString)))
    val t3 = System.nanoTime()
    (c, Map("insert_s" -> (t1 - t0) / 1e9, "compact_s" -> (t2 - t1) / 1e9,
      "index_build_s" -> (t3 - t2) / 1e9))
  }

  /** Exact filtered top-k of every query, through the engine's exact
    * route (`searchBatch` without a probe budget): qid -> pks in rank
    * order.
    */
  def groundTruth(spark: SparkSession, c: Collection): Map[String, Seq[Long]] =
    CollectionSearch.searchBatch(spark, c, Vec, queries, K,
      filterExpr = Filter, outputFields = Seq(Category))
      .collect().toSeq
      .groupBy(_.getAs[String]("qid"))
      .map { case (q, rs) =>
        q -> rs.sortBy(r => (r.getAs[Double]("score"), r.getAs[Long](Pk)))
          .map(_.getAs[Long](Pk))
      }
}

object Corpus {
  val Pk = "vec_id"
  val Category = "category"
  val Vec = "embedding"
  val Dim = 64
  val Nlist = 32
  val Nprobe = 8
  val K = 10
  val NumQueries = 128
  val Filter = "category in [1,3,5,7,9]"
  val QueryPkBase = 1000000000L
  val SearchParams: Map[String, String] = Map("nprobe" -> Nprobe.toString)
}
