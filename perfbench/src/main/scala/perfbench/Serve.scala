package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import graft.expr.MilvusExpr
import graft.operators.CollectionSearch
import graft.store.{Collection, IndexStore}
import org.apache.spark.sql.{Row, SparkSession}

import Corpus._

/** A search workload: [[Workload.Clients]] closed-loop threads sending
  * nq=1 calls; `writer` adds the open-loop DML writer of `dml_serve`.
  */
final case class Workload(name: String, writer: Boolean)

object Workload {
  val Clients = 2
  val all: Seq[Workload] = Seq(
    Workload("point_serve", writer = false),
    Workload("dml_serve", writer = true))
}

/** One search call as the client saw it. */
final case class Call(startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** One writer batch: 20 inserted rows, then 5 deletes of the previous
  * batch's rows. Latency counts from the batch's due time.
  */
final case class WriteBatch(dueNs: Long, startNs: Long, endNs: Long,
    insertMs: Double, deleteMs: Option[Double], folds: Int, foldMs: Seq[Double]) {
  def latencyMs: Double = (endNs - dueNs) / 1e6
  def lateMs: Double = (startNs - dueNs) / 1e6
}

/** Shared state of one workload run: the served collection, the query
  * stream, the writer's acknowledgements and every correctness
  * violation seen.
  */
final class Serve(val spark: SparkSession, val corpus: Corpus,
    val coll: Collection, val w: Workload) {
  import spark.implicits._

  /** Every correctness violation and failed operation of the run. */
  val violations = new ConcurrentLinkedQueue[String]()

  def violate(msg: String): Unit = violations.add(msg): Unit

  // ---- writer bookkeeping: pk -> System.nanoTime of each event ----
  private val insertAcked = new ConcurrentHashMap[Long, Long]()
  private val deleteIssued = new ConcurrentHashMap[Long, Long]()
  private val deleteAcked = new ConcurrentHashMap[Long, Long]()
  val rowsInserted = new AtomicLong(0)
  val rowsDeleted = new AtomicLong(0)

  /** Writer rows: batch `k`, row `j` copies query vector `(20k+j) % 128`
    * and sits in the searched band, so its query must rank it first.
    */
  private def writerPk(base: Long, k: Int, j: Int): Long = base + k * 20L + j
  private def writerQuery(k: Int, j: Int): Int = (k * 20 + j) % NumQueries
  private val writerPks = new ConcurrentHashMap[Int, ConcurrentLinkedQueue[Long]]()

  // ---- searches ----

  def queryBatch(i: Long): Seq[(String, Seq[Float])] =
    Seq(corpus.queries((i % NumQueries).toInt))

  def search(qs: Seq[(String, Seq[Float])]): Array[Row] =
    CollectionSearch.searchBatch(spark, coll, Vec, qs, K, Filter,
      SearchParams, Seq(Category)).collect()

  /** Per-call gate: k hits per query (the probed cells always hold more
    * than k matching rows here), every hit in the filter band, scores
    * ascending, pks unique; on `dml_serve` every write acknowledged
    * before the call started is reflected. Returns the hit count.
    */
  def check(qs: Seq[(String, Seq[Float])], rows: Array[Row],
      startNs: Long, endNs: Long): Int = {
    val byQ = rows.groupBy(_.getAs[String]("qid"))
    qs.foreach { case (qid, _) =>
      val hs = byQ.getOrElse(qid, Array.empty[Row]).toSeq
      val pks = hs.map(_.getAs[Long](Pk))
      val scores = hs.map(_.getAs[Double]("score"))
      if (hs.size != K) violate(s"$qid: ${hs.size} hits, expected $K")
      if (pks.distinct.size != pks.size) violate(s"$qid: duplicate pks")
      if (hs.exists(r => r.getAs[Long](Category) % 2 != 1))
        violate(s"$qid: hit outside filter $Filter")
      if (scores.zip(scores.drop(1)).exists { case (a, b) => a > b })
        violate(s"$qid: scores not ascending")
      if (w.writer) checkWrites(qid, pks.toSet, startNs, endNs)
    }
    rows.length
  }

  private def checkWrites(qid: String, hits: Set[Long],
      startNs: Long, endNs: Long): Unit = {
    val qi = qid.stripPrefix("q").toInt
    val mine = Option(writerPks.get(qi)).map(_.asScala.toSeq).getOrElse(Nil)
    val mustShow = mine.filter { pk =>
      val ins = insertAcked.get(pk)
      val del = deleteIssued.get(pk)
      ins != 0L && ins < startNs && (del == 0L || del > endNs)
    }
    if (mustShow.size <= K && !mustShow.forall(hits))
      violate(s"$qid: acknowledged insert missing " +
        (mustShow.filterNot(hits)).mkString(","))
    val gone = hits.filter { pk =>
      val d = deleteAcked.get(pk)
      d != 0L && d < startNs
    }
    if (gone.nonEmpty) violate(s"$qid: acknowledged delete served ${gone.mkString(",")}")
  }

  /** Run the closed-loop clients until `deadlineNs`; `call` performs one
    * request for client `c`'s `n`-th call and returns its record. Client
    * `c` starts `c * staggerMs` late, so the clients do not move in lock
    * step and their calls sample different moments.
    */
  def clients(deadlineNs: Long, staggerMs: Long = 0L)(
      call: (Int, Long) => Call): Seq[Call] = {
    import Workload.Clients
    val pool = Executors.newFixedThreadPool(Clients)
    val out = new ConcurrentLinkedQueue[Call]()
    (0 until Clients).foreach { c =>
      pool.submit(new Runnable {
        def run(): Unit = {
          Thread.sleep(c * staggerMs)
          var n = 0L
          while (System.nanoTime() < deadlineNs) {
            try out.add(call(c, n * Clients + c))
            catch { case e: Exception => violate(s"search failed: $e") }
            n += 1
          }
        }
      })
    }
    pool.shutdown()
    if (!pool.awaitTermination(170, TimeUnit.SECONDS)) {
      violate("search clients did not stop")
      pool.shutdownNow()
    }
    out.asScala.toSeq
  }

  /** Untraced call: the engine's public search, then the gate. */
  def plainCall(c: Int, i: Long): Call = {
    val qs = queryBatch(i)
    val t0 = System.nanoTime()
    val rows = search(qs)
    val t1 = System.nanoTime()
    check(qs, rows, t0, t1)
    Call(t0, t1)
  }

  // ---- writer ----

  /** Run `batches` writer batches, batch k due at `startNs + k*periodNs`
    * (open loop; `periodNs = 0` makes it closed loop). Row pks start at
    * `pkBase`.
    */
  def writer(batches: Int, startNs: Long, periodNs: Long, pkBase: Long,
      tracer: Option[Tracer] = None): Seq[WriteBatch] = {
    val out = new ArrayBuffer[WriteBatch]()
    var prevEnd = startNs
    (0 until batches).foreach { k =>
      val due = if (periodNs == 0L) prevEnd else startNs + k * periodNs
      val sleepMs = (due - System.nanoTime()) / 1000000L
      if (sleepMs > 0) Thread.sleep(sleepMs)
      val t0 = System.nanoTime()
      val rows = (0 until 20).map { j =>
        val pk = writerPk(pkBase, k, j)
        writerPks.computeIfAbsent(writerQuery(k, j), _ => new ConcurrentLinkedQueue[Long]())
          .add(pk)
        (pk, (2 * (j % 5) + 1).toLong, corpus.queries(writerQuery(k, j))._2)
      }
      var folds = 0
      val foldMs = ArrayBuffer.empty[Double]
      def timed(name: String)(body: => Unit): Double = {
        val before = coll.numDeltas
        val s = System.nanoTime()
        tracer match {
          case Some(t) => t.span(k.toLong, name)(body)
          case None => body
        }
        val ms = (System.nanoTime() - s) / 1e6
        if (coll.numDeltas <= before) { folds += 1; foldMs += ms }
        ms
      }
      val insMs =
        try timed("dml.insert")(coll.insert(spark, rows.toDF(Pk, Category, Vec)): Unit)
        catch { case e: Exception => violate(s"insert failed: $e"); 0.0 }
      val ack = System.nanoTime()
      rows.foreach { r => insertAcked.put(r._1, ack) }
      rowsInserted.addAndGet(rows.size)
      val delMs = if (k == 0) None else Some {
        val victims = (15 until 20).map(j => writerPk(pkBase, k - 1, j))
        val issued = System.nanoTime()
        victims.foreach(deleteIssued.put(_, issued))
        try {
          val ms = timed("dml.delete")(
            coll.delete(spark, s"$Pk in [${victims.mkString(", ")}]"): Unit)
          val dack = System.nanoTime()
          victims.foreach(deleteAcked.put(_, dack))
          rowsDeleted.addAndGet(victims.size)
          ms
        } catch { case e: Exception => violate(s"delete failed: $e"); 0.0 }
      }
      prevEnd = System.nanoTime()
      out += WriteBatch(due, t0, prevEnd, insMs, delMs, folds, foldMs.toSeq)
    }
    out.toSeq
  }

  /** Post-window reconciliation: the filtered count equals the corpus's
    * band rows plus writer inserts minus writer deletes (every writer
    * row is in the band).
    */
  def reconcile(): Unit = {
    val base = (0L until corpus.rows).count(pk => corpus.category(pk) % 2 == 1)
    val expected = base + rowsInserted.get() - rowsDeleted.get()
    val got = coll.query(spark, Filter, outputFields = Seq(Pk)).count()
    if (got != expected) violate(s"filtered count $got != expected $expected")
  }

  /** Recall@10 of the served route against the engine's exact route on
    * the current state, over the whole query stream (`searchBatch`
    * returns the same hits as one call per query).
    */
  def recallNow(): Double = {
    val exact = corpus.groundTruth(spark, coll)
    val served = search(corpus.queries).groupBy(_.getAs[String]("qid"))
    val hit = corpus.queries.map { case (qid, _) =>
      val gt = exact.getOrElse(qid, Nil).toSet
      served.getOrElse(qid, Array.empty[Row]).count(r => gt(r.getAs[Long](Pk)))
    }.sum
    hit.toDouble / (NumQueries * K)
  }

  // ---- traced search: the route split from the outside ----

  /** Per-call layer record of a traced search. */
  final case class Layers(wallMs: Double, spansMs: Double,
      spans: Map[String, Double], staleServed: Boolean, builtSeq: Long,
      deltas: Int, hits: Int)

  def tracedCall(t: Tracer, id: Long, i: Long): (Call, Layers) = {
    val qs = queryBatch(i)
    val t0 = System.nanoTime()
    val seq = t.span(id, "meta") { coll.definition; coll.committedSeq }
    val build = t.span(id, "ensure") {
      IndexStore.ensureIvf(spark, coll, Vec, "L2", Nlist)
    }
    val deltas = coll.numDeltas - 1
    val served = t.span(id, "serve")(IndexStore.serveIvf(spark, coll, Vec, build))
    t.span(id, "expr")(MilvusExpr.compile(Filter, served))
    val df = t.span(id, "route") {
      CollectionSearch.searchBatch(spark, coll, Vec, qs, K, Filter,
        SearchParams, Seq(Category))
    }
    t.span(id, "plan")(df.queryExecution.executedPlan)
    val rows = t.span(id, "exec")(df.collect())
    val t1 = System.nanoTime()
    val hits = t.span(id, "check")(check(qs, rows, t0, t1))
    val t2 = System.nanoTime()
    val mine = t.spans.filter(_.request == id)
    val call = Call(t0, t2)
    (call, Layers((t2 - t0) / 1e6, mine.map(_.ms).sum,
      mine.map(s => s.name -> s.ms).toMap, build.builtSeq < seq,
      build.builtSeq, deltas, hits))
  }
}
