package graftbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops._

/** The decontaminated curation funnel (`q292_decontaminated_capstone`:
  * classifier gate → LM filter → MinHash keep-best dedup → eval
  * decontamination → per-source budget), run once over the `documents`
  * table as a batch job. `run` writes its result under
  * `out/q292_decontaminated_capstone/` (which also forces it) and
  * returns the ids that survived; `run.py` compares the written result
  * with the DuckDB oracle.
  *
  * The traced run executes the same funnel composed from the public
  * operators, with a span per stage. This composition is a second
  * spelling of q292 kept beside the engine's: the oracle keeps its
  * output equal to the query's, but not its plan, so an engine change
  * inside q292 that the composition does not share (a new seal, a
  * fused stage, a changed threshold in the query's own code) leaves the
  * per-stage times unmoved until this file follows it.
  */
final class Curation {
  val query = "q292_decontaminated_capstone"
  private val evalT = "cur_eval_sets"

  def run(c: Ctx): DataFrame = {
    val df =
      if (!c.tracer.on) graft.SparkEntry.queries(query)(c.spark, c.dir)
      else {
        graft.Tables.writeTable(evalSets(c), evalT) // the query's asset
        traced(c)
      }
    c.tracer.span("curate.write") {
      df.write.mode("overwrite").parquet(c.out(s"$query/setup"))
    }
    c.spark.read.parquet(c.out(s"$query/setup")).select(col("doc_id"))
  }

  // ---- the traced composition (q292's stages, public operators only)

  private val markers = array(lit("buy"), lit("click"), lit("free"))

  /** Every document as 'clean' plus a 'spam' copy under +60M ids with
    * each 5th token replaced by a cycling marker (the funnel's fixture).
    */
  private def spamCorpus(c: Ctx): DataFrame = {
    val docs = c.table("documents").select(col("doc_id"), col("source"), col("text"))
    val toks = TextAnalysis.toks(col("text"))
    docs.select(col("doc_id"), col("source"), lit("clean").as("label"), col("text"))
      .unionByName(docs.select((col("doc_id") + 60000000L).as("doc_id"),
        col("source"), lit("spam").as("label"),
        array_join(transform(toks, (x, i) =>
          when(pmod(i, lit(5)) === 0,
            element_at(markers,
              (pmod(floor((i + lit(1)) / lit(5)).cast("long"), lit(3)) +
                lit(1)).cast("int")))
            .otherwise(x)), " ").as("text")))
  }

  private def refSlice(df: DataFrame): DataFrame =
    df.filter(Sessions.sampleBucket(col("doc_id")) < 300L)

  /** The frozen eval suite: verbatim re-entries, prefix quotes and
    * never-seen synthetics, shingled once.
    */
  private def evalSets(c: Ctx): DataFrame = {
    val docs = c.table("documents").select(col("doc_id"), col("text"))
    val test = docs.filter(col("doc_id") % 17 === 0)
      .select((col("doc_id") + 10000000L).as("test_id"), col("text"))
      .unionByName(docs.filter(col("doc_id") % 23 === 0)
        .select((col("doc_id") + 20000000L).as("test_id"),
          substring(col("text"), 1, 120).as("text")))
      .unionByName(c.spark.range(0, 50)
        .select((col("id") + 30000000L).as("test_id"),
          concat(lit("zzz"), col("id"), lit(" yyy"), col("id"), lit(" xxx"),
            col("id"), lit(" www"), col("id")).as("text")))
    Dedup.shingleSets(test, "test_id", "text", 3)
      .select(col("doc_id").as("test_id"), col("shs"))
  }

  private def traced(c: Ctx): DataFrame = {
    val tr = c.tracer
    val seal = new SealSpy(tr, Materialize.LocalLazy)
    val corp = seal(spamCorpus(c))
    val keep = tr.span("classify.gate") {
      val (wts, rts) = Classify.model(
        Classify.classTokenCounts(refSlice(corp), "label", "text"), seal)
      tr.force(Classify.predict(corp, "doc_id", "text", wts, rts)
        .filter(col("predicted") === "clean").select(col("doc_id")))
    }
    val surv1 = corp.join(keep, Seq("doc_id"))
      .select(col("doc_id"), col("source"), col("text"))
    val surv2 = seal(tr.span("langmodel.filter") {
      val ref = refSlice(c.table("documents").select(col("doc_id"), col("text")))
      val scored = LangModel.scoreDocs(surv1, "doc_id", "text",
        LangModel.bigramModel(ref, "text"), LangModel.unigramCounts(ref, "text"))
      val fluent = LangModel.filterFluent(scored, minFluencyPpm = 33000L,
        maxOovPpm = 200000L).select(col("doc_id"))
      tr.force(surv1.join(fluent, Seq("doc_id")))
    })
    val spy = new SealSpy(tr, Materialize.LocalLazy)
    val pairs = tr.span("dedup.lsh_pairs") {
      tr.force(Dedup.minhashLshPairs(surv2, "doc_id", "text",
        n = 3, bands = 4, rowsPerBand = 2, tau = 0.5, mat = spy))
    }
    if (tr.on) {
      // the capped band buckets are the last frame sealed before the
      // candidate self-join; count its candidates as the operator forms them
      val b = spy.frames.last
      tr.add("dedup.candidates", b.as("a").join(b.as("b"),
          col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey") &&
            col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id"), col("b.doc_id")).distinct().count().toDouble)
      tr.add("dedup.pairs", pairs.count().toDouble)
    }
    val clusters = tr.span("dedup.cc") {
      val (labels, rounds) = Dedup.connectedComponentsWithRounds(pairs)
      tr.add("dedup.cc_rounds", rounds.toDouble)
      tr.force(labels.select(col("id").as("doc_id"), col("lbl").as("cluster_id")))
    }
    val surv3 = seal(tr.span("cleancorpus.keepbest") {
      val tk = TextAnalysis.toks(col("text"))
      val nd = size(array_distinct(tk)).cast("long")
      val nt = size(tk).cast("long")
      val scored = surv2.select(col("doc_id"), col("source"),
        when(nt === 0L, 0L).otherwise(graft.functions.Fns.exactPpm(nd, nt))
          .as("score_ppm"),
        greatest(nt, lit(1L)).as("cost"))
      tr.force(CleanCorpus.keepBestInCluster(scored, "doc_id", "score_ppm",
        clusters))
    })
    val surv4 = tr.span("decont") {
      val text = corp.join(surv3.select(col("doc_id")), Seq("doc_id"))
        .select(col("doc_id"), col("text"))
      tr.force(Decontaminate.decontaminate(surv3, "doc_id",
        Decontaminate.contaminationPairsFromSets(text, "doc_id", "text",
          c.spark.table(evalT), n = 3, tauPpm = 800000L, maxDf = 100L)))
    }
    tr.add("decont.dropped", (surv3.count() - surv4.count()).toDouble)
    tr.span("prep.budget") {
      tr.force(Prep.selectUnderBudgetByGroup(surv4, "source", "doc_id",
        "score_ppm", "cost", budgetPerGroup = 1200L))
    }
  }
}
