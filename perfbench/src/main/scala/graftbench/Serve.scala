package graftbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.ops.{Graphs, Similarity}
import graft.search.Search

/** `serve`: an interactive analysis session. A closed loop, one client,
  * seeded requests in rounds of one request per kind: search requests
  * against BM25 and IVF-PQ indexes built during set-up (fuzzy BM25
  * top-k, IVF-PQ kNN with re-rank, hybrid RRF over both indexes, kNN
  * filtered by document `source`) and analytic queries over the fact
  * tables (the relational mix q01, q03, q04, q10 and q151's triangle
  * counts over the part co-purchase graph). An analytic request writes
  * its result table, which `run.py` compares with the DuckDB oracle.
  */
final class Serve extends Workload {
  private val (post, dfT, stT) = ("srv_post", "srv_df", "srv_stats")
  private val (idxT, coarseT, cbT) = ("srv_pq", "srv_coarse", "srv_cb")
  private val (m, dims, nProbe, shortlist, k, n) = (8, 64, 8, 50, 10, 50)
  // one bucket per core: the index tables are a few MB
  private val buckets = Runtime.getRuntime.availableProcessors
  private var reqs: Array[Row] = Array.empty
  private var kinds = 0 // requests per round
  private val responses = mutable.Map[Int, Seq[String]]()

  private def corpus(c: Ctx): DataFrame =
    Similarity.prepared(c.table("embeddings"), "vec_id", "embedding")

  def setup(c: Ctx): Unit = {
    val docs = c.table("documents")
    Search.writeBm25Index(docs, "doc_id", Seq("text"), post, dfT, stT,
      numBuckets = buckets)
    val p = corpus(c)
    graft.Tables.writeTable(Similarity.strideCentroids(p, 50L), coarseT)
    graft.Tables.writeTable(Similarity.pqCodebooks(p, m, dims, stride = 25L), cbT)
    Similarity.writePqIndex(p, c.spark.table(coarseT), c.spark.table(cbT),
      m, dims, idxT)
    reqs = c.spark.read.parquet(s"${c.dir}/requests.parquet")
      .orderBy("req_id").collect()
    kinds = reqs.map(_.getAs[String]("kind")).distinct.length
  }

  /** One round of one request per kind (JIT, code generation). */
  override def warm(c: Ctx): Unit = (0 until kinds).foreach(serve(c, _))

  private def queryVec(c: Ctx, r: Row): DataFrame = {
    val schema = StructType(Seq(StructField("vec_id", LongType),
      StructField("embedding", ArrayType(FloatType))))
    val row = Row(100000000L + r.getAs[Long]("req_id"), r.getAs[Seq[Float]]("vec"))
    Similarity.prepared(c.spark.createDataFrame(
      java.util.Collections.singletonList(row), schema), "vec_id", "embedding")
  }

  private def allowed(c: Ctx, r: Row): DataFrame =
    c.table("documents").filter(col("source") === r.getAs[String]("source"))
      .select(col("doc_id").as("vec_id"))

  private def topBm25(scores: DataFrame): DataFrame =
    scores.orderBy(col("score_fp").desc, col("id").asc).limit(k)

  private val relational = Set("q01_pricing_summary", "q03_join_revenue",
    "q04_star_join", "q10_distinct_agg")
  private val triangles = "q151_triangles"

  /** An analytic request: the query's result, written. */
  private def analytic(c: Ctx, q: String, i: Int): Seq[String] = {
    val tr = c.tracer
    val df =
      if (relational(q)) tr.span("relational." + q.take(3)) {
        tr.force(graft.SparkEntry.queries(q)(c.spark, c.dir))
      }
      else if (!tr.on) graft.SparkEntry.queries(q)(c.spark, c.dir)
      else {
        // q151's composition with a span per operator
        val edges = tr.span("graphs.edges") {
          tr.force(Graphs.coOccurrenceUndirected(c.table("lineitem"),
            "l_orderkey", "l_partkey"))
        }
        tr.add("graphs.edges", edges.count().toDouble)
        val tri = tr.span("graphs.triangles") {
          tr.force(Graphs.triangleCountsCanonical(edges)
            .select(col("node").as("p_partkey"), col("n_triangles")))
        }
        // each triangle is counted at its three nodes
        tr.add("graphs.triangles",
          tri.agg(sum("n_triangles")).head().getLong(0) / 3.0)
        tri
      }
    val out = c.out(f"$q/$i%05d")
    tr.span("analytic.write") { df.write.mode("overwrite").parquet(out) }
    Seq(out)
  }

  /** The served (index) form of search request `r`. */
  private def served(c: Ctx, r: Row): DataFrame = {
    val tr = c.tracer
    val s = c.spark
    val coarse = s.table(coarseT)
    val cb = s.table(cbT)
    r.getAs[String]("kind") match {
      case "bm25" => tr.span("search.bm25") {
        tr.force(topBm25(Search.bm25ClassicScoresFromIndex(s, post, dfT, stT,
          Seq("text"), r.getAs[String]("query"))))
      }
      case "knn" => tr.span("similarity.ivfpq") {
        tr.force(Similarity.knnIvfPqRerankOnIndex(s, idxT, corpus(c),
          queryVec(c, r), coarse, cb, m, dims, k, nProbe, shortlist))
      }
      case "filtered" => tr.span("similarity.filtered") {
        tr.force(Similarity.knnIvfPqRerankFiltered(s, idxT, corpus(c),
          queryVec(c, r), coarse, cb, m, dims, k, nProbe, shortlist,
          allowed(c, r)))
      }
      case "hybrid" =>
        val toks = Search.analyzeLiteral(r.getAs[String]("query"))
        if (!tr.on)
          Search.hybridRrfAnnFromIndex(s, post, dfT, stT, "text", toks, idxT,
            corpus(c), queryVec(c, r), coarse, cb, m, dims, n, k, nProbe,
            shortlist)
        else tr.span("search.hybrid") {
          // the same composition as hybridRrfAnnFromIndex, one span per
          // leg so each module's self time is measured
          val bm = tr.span("search.bm25") {
            tr.force(Search.bm25MultiFieldFromIndex(s, post, dfT, stT,
              Seq("text"), toks))
          }
          val vec = tr.span("similarity.ivfpq") {
            tr.force(Similarity.knnIvfPqRerankOnIndex(s, idxT, corpus(c),
              queryVec(c, r), coarse, cb, m, dims, n, nProbe, shortlist))
          }
          tr.span("search.rrf_fuse") {
            tr.force(Search.fuseRrfRanked(bm, vec, n, k))
          }
        }
    }
  }

  /** The inline form each served function documents as result-identical. */
  private def inline(c: Ctx, r: Row): DataFrame = {
    val s = c.spark
    val docs = c.table("documents")
    val (coarse, cb) = (s.table(coarseT), s.table(cbT))
    r.getAs[String]("kind") match {
      case "bm25" => topBm25(Search.bm25ClassicScores(docs, "doc_id",
        Seq("text"), r.getAs[String]("query")))
      case "knn" => Similarity.knnIvfPqRerank(corpus(c), queryVec(c, r),
        coarse, cb, m, dims, k, nProbe, shortlist)
      case "filtered" => Similarity.knnIvfPqRerank(
        corpus(c).join(allowed(c, r), Seq("vec_id"), "left_semi"),
        queryVec(c, r), coarse, cb, m, dims, k, nProbe, shortlist)
      case "hybrid" => Search.fuseRrfRanked(
        Search.bm25MultiField(docs, "doc_id", Seq("text"),
          Search.analyzeLiteral(r.getAs[String]("query"))),
        Similarity.knnIvfPqRerank(corpus(c), queryVec(c, r), coarse, cb, m,
          dims, n, nProbe, shortlist), n, k)
    }
  }

  private def isSearch(r: Row): Boolean =
    !r.getAs[String]("kind").startsWith("q")

  /** Serves request `i`: a search request's rows, or the path an
    * analytic request wrote its result to.
    */
  private def serve(c: Ctx, i: Int): Seq[String] = {
    val r = reqs(i % reqs.length)
    c.tracer.request = i
    val out =
      if (isSearch(r)) c.rows(served(c, r))
      else analytic(c, r.getAs[String]("kind"), i)
    c.tracer.request = -1
    out
  }

  /** One round: the next request of each kind, so every window holds
    * whole rounds and its latency mix does not depend on where the
    * deadline falls. Timed requests follow the warm-up ones.
    */
  def op(c: Ctx, i: Int): Seq[Op] = (0 until kinds).map { j =>
    val req = kinds * (i + 1) + j
    val r = reqs(req % reqs.length)
    val t0 = System.nanoTime()
    val out = serve(c, req)
    val ms = (System.nanoTime() - t0) / 1e6
    if (isSearch(r)) responses(req) = out
    Op(r.getAs[String]("kind"), ok = out.nonEmpty,
      results = if (isSearch(r)) out.size else 0L, ms = ms)
  }

  /** A seeded sample (one per search kind) of the search responses
    * served in the timed loop, recomputed with the inline forms. Every
    * analytic result is checked by `run.py` against the oracle.
    */
  def check(c: Ctx): Seq[(String, Boolean, String)] = {
    val rnd = new scala.util.Random(c.seed)
    val byKind = responses.keys.toSeq.sorted
      .groupBy(i => reqs(i % reqs.length).getAs[String]("kind"))
    byKind.toSeq.sortBy(_._1).flatMap { case (kind, ids) =>
      rnd.shuffle(ids).take(1).map { i =>
        val want = c.rows(inline(c, reqs(i % reqs.length)))
        (s"serve.$kind.$i", want == responses(i),
          s"${responses(i).size} rows served, ${want.size} inline")
      }
    }
  }

  override def oracle: Map[String, String] =
    (relational + triangles).map(q => q -> graft.SparkEntry.oracleSql(q)).toMap
}
