package graft
package search

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.Fns

/** Engine-native full-text search — the Spark restatement of the
  * reference's Elasticsearch query surface (SURVEY.md §2.8 Q1–Q8,
  * app/main.py:75-206).
  *
  * Semantics (documented deviation per SURVEY.md §2.8): ES/Lucene BM25
  * scores are not reproduced bit-for-bit; scoring here is deterministic
  * and engine-defined:
  *  - fuzzy matching uses the ES AUTO rule exactly — edit distance 0
  *    for query tokens of length <= 2, 1 for length 3..5, 2 for >= 6;
  *  - relevance = matched-token counts (integers) or inverse-df
  *    weighted counts in FIXED POINT (floor(tf * N/df * 1e9) summed as
  *    int64) so ranking is bit-reproducible across engines, partition
  *    layouts, and re-runs.
  *
  * Scale posture: the query side is a handful of tokens — every join
  * here broadcasts the query/df-stats side and streams the corpus once.
  * Top-k goes through orderBy+limit = TakeOrderedAndProject (per-
  * partition heaps + driver merge, no global sort).
  */
object Search {

  /** ES `standard`-analyzer-style tokens (lowercase, Unicode word
    * boundaries, no accent folding — SURVEY.md §2.8 Q6).
    */
  def analyze(text: Column): Column = Fns.tokens(text)

  /** ES AUTO fuzziness threshold for a query token (length-based). */
  def autoFuzz(qt: Column): Column =
    when(length(qt) <= 2, 0).when(length(qt) <= 5, 1).otherwise(2)

  /** ES AUTO fuzziness for a literal token (plan-time constant).
    * Length is counted in CODE POINTS to agree with Spark's length()
    * on the document side (UTF-16 code-unit counting would misassign
    * the budget for supplementary-plane tokens).
    */
  def tokenFuzz(t: String): Int = {
    val n = t.codePointCount(0, t.length)
    if (n <= 2) 0 else if (n <= 5) 1 else 2
  }

  /** One fuzzy token-pair test against a LITERAL query token. Two
    * plan-time optimizations, both result-identical (oracles untouched):
    *  - a length-difference pre-filter short-circuits most pairs
    *    (|len(dt)-len(qt)| > k implies distance > k);
    *  - the distance itself uses Spark's THRESHOLD-bounded levenshtein
    *    (returns -1 when distance exceeds k), which runs the banded
    *    O(k·n) algorithm instead of the full O(n·m) matrix — the SURVEY
    *    §4 "cheap before expensive" rewrite, done at build time because
    *    the query tokens are plan-time literals with constant budgets.
    */
  private def fuzzyPairLit(dt: Column, tok: String): Column = {
    val k = tokenFuzz(tok)
    val tokLen = tok.codePointCount(0, tok.length) // = Spark length(lit(tok))
    (abs(length(dt) - lit(tokLen)) <= k) &&
      (levenshtein(dt, lit(tok), k) >= 0)
  }

  /** Does any token of `docToks` fuzzy-match the literal query token? */
  def fuzzyHit(docToks: Column, qt: String): Column =
    exists(docToks, dt => fuzzyPairLit(dt, qt))

  /** Number of query tokens with at least one fuzzy match in docToks
    * (the multi_match OR semantics, Q1).
    */
  def fuzzyMatchedCount(docToks: Column, queryToks: Seq[String]): Column =
    if (queryToks.isEmpty) lit(0L)
    else queryToks.map(t => when(fuzzyHit(docToks, t), 1L).otherwise(0L))
      .reduce(_ + _)

  /** ALL query tokens fuzzy-match (the `operator: and` semantics, Q2). */
  def fuzzyAll(docToks: Column, queryToks: Seq[String]): Column =
    if (queryToks.isEmpty) lit(true)
    else queryToks.map(t => fuzzyHit(docToks, t)).reduce(_ && _)

  /** Case-insensitive wildcard-contains (Q3: `*ing*`). */
  def wildcard(field: Column, needle: String): Column =
    lower(field).contains(needle.toLowerCase(java.util.Locale.ROOT))

  /** One "frigo" ingredient clause (Q4): fuzzy-AND over the clause
    * tokens OR raw contains — catches glued tokens like "1oeuf".
    */
  def clauseMatch(docToks: Column, rawField: Column, clause: String): Column = {
    val toks = clause.toLowerCase(java.util.Locale.ROOT).split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty)
    fuzzyAll(docToks, toks.toSeq) || wildcard(rawField, clause)
  }

  /** Frigo search (Q5, app/main.py:109-154): N clauses, keep documents
    * matching at least `minShouldMatch`, score = matched clause count
    * (more matched ingredients rank first).
    */
  def minShouldMatchScore(docToks: Column, rawField: Column,
                          clauses: Seq[String]): Column =
    if (clauses.isEmpty) lit(0L) // empty CSV -> no clause matches anything
    else clauses
      .map(c => when(clauseMatch(docToks, rawField, c), 1L).otherwise(0L))
      .reduce(_ + _)

  /** Multi-field fuzzy search (Q1 multi_match over weighted fields):
    * score = sum over fields of weight * matched-token-count. Returns
    * the corpus with an integer `score` column (filter/top-k at call
    * site).
    */
  def multiMatchScore(fields: Seq[(Column, Long)], queryToks: Seq[String]): Column =
    fields.map { case (fToks, w) =>
      fuzzyMatchedCount(fToks, queryToks) * lit(w)
    }.reduce(_ + _)

  /** Driver-side analyzer for a literal query string — identical
    * semantics to [[analyze]] (lowercase, Unicode word split).
    * Locale.ROOT matches Spark's locale-independent lower(): a default
    * Turkish JVM locale would otherwise produce dotless-i tokens that
    * never match the document side.
    */
  def analyzeLiteral(query: String): Seq[String] =
    query.toLowerCase(java.util.Locale.ROOT)
      .split("[^\\p{L}\\p{N}]+").filter(_.nonEmpty).toSeq

  /** F13 (app/main.py:107): CSV ingredient list -> trimmed lowercase
    * clauses, empties dropped.
    */
  def splitClauses(csv: String): Seq[String] =
    csv.split(",").map(_.trim.toLowerCase(java.util.Locale.ROOT))
      .filter(_.nonEmpty).toSeq

  /** The classic search entry point (app/main.py:88-97): multi_match
    * with AUTO fuzziness over name / ingredients_text / steps_text,
    * integer score = matched-query-token count summed over the three
    * fields, top-k by (score desc, product_id asc).
    *
    * `view` must be a search view ([[graft.recipes.Recipes.searchView]]).
    * One corpus scan, no shuffle before the TakeOrderedAndProject top-k.
    */
  def classic(view: DataFrame, query: String, k: Int = 500): DataFrame = {
    val qt = analyzeLiteral(query)
    val score = multiMatchScore(Seq(
      (analyze(col("name")), 1L),
      (analyze(col("ingredients_text")), 1L),
      (analyze(col("steps_text")), 1L)), qt)
    view.withColumn("score", score)
      .filter(col("score") > 0)
      .select(col("product_id"), col("name"), col("score"))
      .orderBy(col("score").desc, col("product_id").asc)
      .limit(k)
  }

  /** The frigo search entry point (app/main.py:109-154): one bool
    * clause per CSV ingredient (fuzzy-AND over its tokens OR raw
    * wildcard-contains), minimum_should_match = 1, integer score =
    * matched clause count (more matched ingredients rank first).
    */
  def frigo(view: DataFrame, ingredientsCsv: String, k: Int = 500): DataFrame = {
    val clauses = splitClauses(ingredientsCsv)
    val docToks = analyze(col("ingredients_text"))
    val score = minShouldMatchScore(docToks, col("ingredients_text"), clauses)
    view.withColumn("score", score)
      .filter(col("score") >= 1)
      .select(col("product_id"), col("name"), col("score"))
      .orderBy(col("score").desc, col("product_id").asc)
      .limit(k)
  }

  /** Exact-token inverse-df ranked search in fixed point (Q1's ranked
    * variant): contribution of query token t in doc d =
    * floor(tf(t,d) * (N / df(t)) * 1e9) summed as int64.
    * df is computed as a distributed aggregate and broadcast back.
    * Returns (id, score_fp) for docs with score > 0.
    */
  /** Fixed-point BM25 ranked search (k1 = 1.2, b = 0.75 — the
    * classic Robertson parameterization; the ranking family behind the
    * reference's ES relevance scores, app/main.py:88-97, restated
    * deterministically). Per query token t in document d:
    *
    *   idf(t)  = ln((N + 1) / (df(t) + 0.5))
    *   tfpart  = tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *           = 22·tf·T / (10·tf·T + 3·T + 9·dl·N)    with avgdl = T/N
    *   contrib = floor(idf · tfpart · 1e6), summed per doc as int64.
    *
    * tfpart's numerator/denominator are EXACT int64 products (the
    * k1/b rationals folded in: 22 = 10·(k1+1), 3 = 10·k1·(1−b),
    * 9 = 10·k1·b for k1 = 6/5, b = 3/4), so the only floating steps
    * are one ln on a ratio of exact int64-derived doubles, one
    * division, and one fixed-shape product — bit-identical across
    * engines (probe-verified JVM vs DuckDB). Int64 bound:
    * 10·tf·T + 9·dl·N needs T·max(tf)·10 < 2^63 — holds to ~1e13
    * corpus tokens at realistic tf; beyond that pre-scale T and N
    * (they enter numerator and denominator symmetrically).
    *
    * Unlike [[idfSearch]] (raw TF×N/df), BM25 SATURATES term
    * frequency (doubling tf must not double the score) and normalizes
    * by document length — long documents stop out-ranking short ones
    * on repeated terms, the mis-ranking a raw-IDF user actually hits.
    *
    * Scale shape (same as [[idfSearch]]): corpus stats (N, total
    * tokens T) are ONE broadcast single-row aggregate kept in-plan —
    * no driver count; df is broadcast; per-doc length dl is carried
    * through the explode so no corpus-sized join is ever shuffled;
    * one real shuffle (the tf aggregate). Returns (id, score_fp)
    * with score_fp > 0; descending score_fp = BM25 ranking.
    */
  def bm25Search(docs: DataFrame, idCol: String, textCol: String,
                 queryToks: Seq[String]): DataFrame =
    bm25MultiField(docs, idCol, Seq(textCol), queryToks)

  /** Multi-field BM25 — the ES `multi_match` best_fields combination
    * the reference's classic search actually ranks with
    * (app/main.py:88-97; ES default type): document score = MAX over
    * fields of that field's BM25 score (tie_breaker = 0). Each field
    * keeps its own df / length / avgdl statistics, exactly like
    * per-field Lucene indexes. Exact-token form (the fuzzy-expansion
    * BM25 form is [[bm25Classic]]); every returned row carries a
    * positive score by construction. Returns (id, score_fp).
    *
    * Scale shape — ONE pass over the corpus, not one per field:
    *  - per-field corpus statistics (shared N, per-field total tokens
    *    T_f) come from a single broadcast single-row aggregate — one
    *    pruned corpus scan, no explode;
    *  - all fields explode through ONE tagged projection
    *    (`array(struct(field, tokens))`), with the per-(doc, field)
    *    length dl carried through the explode, so the only corpus-sized
    *    shuffle is the (id, field, tok) tf aggregate;
    *  - per-(field, token) df is derived FROM the tf aggregate's output
    *    (its row count per (field, tok) IS the distinct-doc count), so
    *    the df branch reuses the tf shuffle (`ReusedExchange`) instead
    *    of re-scanning the corpus, and broadcasts back;
    *  - per-field scores fold into one conditional-sum aggregate,
    *    `greatest` picks best_fields — no full_outer join chain.
    * Net: 2 corpus scans and 1 corpus shuffle total, vs 3 scans and
    * 1 shuffle PER FIELD in the per-field-composition form (9 scans for
    * the reference's 3-field search) — at 100 TB the scan count is the
    * operator's dominant cost.
    */
  def bm25MultiField(docs: DataFrame, idCol: String, fields: Seq[String],
                     queryToks: Seq[String]): DataFrame =
    bm25Tagged(docs, idCol, fields,
      tokenPred = $"tok".isin(queryToks: _*), boost = None)

  /** The shared single-pass tagged BM25 core behind [[bm25MultiField]]
    * (exact tokens, no boost) and [[bm25ClassicScores]] (fuzzy-expanded
    * tokens with a per-term distance boost multiplier). `tokenPred`
    * selects matching corpus tokens (evaluated on `tok`); `boost`, when
    * present, multiplies each term's BM25 contribution before the
    * fixed-point floor (evaluated on `tok`; exact form omits the
    * multiplier entirely so the q65/q69 float shapes are untouched).
    */
  private def bm25Tagged(docs: DataFrame, idCol: String,
                         fields: Seq[String], tokenPred: Column,
                         boost: Option[Column]): DataFrame = {
    require(fields.nonEmpty, "bm25 needs at least one field")
    val tf = bm25Tf(docs, idCol, fields, Some(tokenPred))
    // df(field, tok) = distinct docs whose field contains tok = tf's
    // row count per (field, tok) — derived FROM the tf aggregate so the
    // corpus is not re-tokenized for document frequencies. The filter
    // is an always-true runtime invariant (tf is a count ≥ 1; dl is a
    // max over sizes of non-empty exploded arrays ≥ 1) whose job is to
    // reference tf/dl so column pruning cannot rewrite this branch's
    // aggregate to a keys-only distinct: with both branches needing the
    // identical aggregate, the shuffle under it canonicalizes equal and
    // ReuseExchange serves df from the SAME exchange (one corpus scan +
    // shuffle feeds both) instead of planning a second corpus pass.
    val df_ = tf.filter($"tf" >= 1 && $"dl" >= 0)
      .groupBy($"field", $"tok").agg(count(lit(1)).as("df"))
    bm25ScoreTail(tf, df_, broadcast(bm25Stats(docs, fields)),
      fields, boost)
  }

  /** The 1-row corpus statistics every BM25 form shares: document
    * count N plus per-field total token count T_f (avgdl_f = T_f/N is
    * folded into the integer tfpart rationals downstream).
    */
  private[graft] def bm25Stats(docs: DataFrame, fields: Seq[String]): DataFrame =
    docs.agg(
      count(lit(1)).as("n_docs"),
      fields.map(f => sum(size(analyze(col(f)))).cast("long")
        .as(s"_t_$f")): _*)

  /** The tagged single-pass per-(doc, field, token) tf aggregate —
    * one explode over all fields, dl carried through, `tokenPred`
    * (when present) applied BEFORE the aggregate so a query-time call
    * shuffles only matching tokens; None = the full inverted index
    * (what [[writeBm25Index]] persists).
    */
  private[graft] def bm25Tf(docs: DataFrame, idCol: String, fields: Seq[String],
                     tokenPred: Option[Column]): DataFrame = {
    val tagged = docs.select(col(idCol).as("id"),
        explode(array(fields.map(f =>
          struct(lit(f).as("f"), analyze(col(f)).as("toks"))): _*)).as("ft"))
      .select($"id", col("ft.f").as("field"),
        size(col("ft.toks")).cast("long").as("dl"),
        explode(col("ft.toks")).as("tok"))
    val kept = tokenPred.fold(tagged)(tagged.filter)
    // the ONE corpus-sized shuffle; dl is constant per (id, field) —
    // max() re-attaches it through the aggregate without a corpus join
    kept.groupBy($"id", $"field", $"tok")
      .agg(count(lit(1)).as("tf"), max($"dl").as("dl"))
  }

  /** The shared BM25 scoring tail: tf (id, field, tok, tf, dl) joined
    * with broadcast df (field, tok, df) and the broadcast 1-row stats,
    * fixed-point contribution per term, per-field conditional sums,
    * `greatest` best_fields. Identical expression tree for the inline
    * ([[bm25Tagged]]) and persisted-index ([[bm25FromIndex]]) paths —
    * which is what makes the index path oracle-identical.
    */
  private[graft] def bm25ScoreTail(tf: DataFrame, df_ : DataFrame,
                            stats: DataFrame, fields: Seq[String],
                            boost: Option[Column]): DataFrame = {
    // pick this row's field's T_f out of the broadcast stats row
    val tt = coalesce(fields.map(f =>
      when($"field" === f, col(s"_t_$f"))): _*)
    val core = $"idf" * $"tfpart"
    val scoreExpr = boost.fold(core)(b => core * b)
    val scored = tf.join(broadcast(df_), Seq("field", "tok"))
      .crossJoin(stats)
      .withColumn("tt", tt)
      .withColumn("idf",
        log(($"n_docs".cast("double") + lit(1.0)) /
          ($"df".cast("double") + lit(0.5))))
      .withColumn("tfpart",
        (lit(22L) * $"tf" * $"tt").cast("double") /
          (lit(10L) * $"tf" * $"tt" + lit(3L) * $"tt" +
            lit(9L) * $"dl" * $"n_docs").cast("double"))
      .withColumn("contrib",
        floor(scoreExpr * lit(1e6)).cast("long"))
    val perField = fields.map(f =>
      coalesce(sum(when($"field" === f, $"contrib")), lit(0L))
        .as(s"_s_$f"))
    val best =
      if (fields.size == 1) col(s"_s_${fields.head}")
      else greatest(fields.map(f => col(s"_s_$f")): _*)
    scored.groupBy($"id")
      .agg(perField.head, perField.tail: _*)
      .select($"id", best.as("score_fp"))
      .filter($"score_fp" > 0)
  }

  /** Persist the BM25 statistics assets as catalog tables — the
    * engine-native form of what the reference's ES index IS: a
    * persisted inverted statistics structure
    * (docker-compose.yml:33-45 keeps it warm between searches).
    * Three tables:
    *   - `postingsTable` (id, field, tok, tf, dl) — the full tagged
    *     inverted index, bucketed by tok: a query-token filter prunes
    *     at the scan and the score join reads pre-distributed rows;
    *   - `dfTable` (field, tok, df) — per-(field, token) document
    *     frequency, derived FROM the persisted postings (the corpus
    *     is tokenized exactly once), bucketed by tok;
    *   - `statsTable` — the 1-row (n_docs, per-field T_f) aggregate.
    * Pay the corpus tokenize + shuffle ONCE at build time; every
    * later [[bm25FromIndex]] search reads only these tables — at
    * 100 TB repeat search cost drops from a corpus scan + shuffle per
    * query to a pruned postings scan (the writeLshAssets /
    * writePqIndex pattern applied to ranked search).
    */
  def writeBm25Index(docs: DataFrame, idCol: String, fields: Seq[String],
                     postingsTable: String, dfTable: String,
                     statsTable: String, numBuckets: Int = 32): Unit = {
    require(fields.nonEmpty, "bm25 needs at least one field")
    val spark = docs.sparkSession
    graft.Tables.writeBucketed(bm25Tf(docs, idCol, fields, None),
      postingsTable, Seq("tok"), numBuckets)
    graft.Tables.writeBucketed(
      spark.table(postingsTable)
        .groupBy($"field", $"tok").agg(count(lit(1)).as("df")),
      dfTable, Seq("tok"), numBuckets)
    graft.Tables.writeTable(bm25Stats(docs, fields), statsTable)
  }

  /** BM25 scores from the persisted index — result-identical to the
    * corresponding inline form (same scoring tail, same df values:
    * for any token passing `tokenPred`, the full-index tf rows are
    * exactly the inline filtered aggregate's). No tokenize, no corpus
    * scan, no corpus shuffle at query time; exact-token predicates
    * prune the bucketed postings scan.
    */
  def bm25FromIndex(spark: org.apache.spark.sql.SparkSession,
                    postingsTable: String, dfTable: String,
                    statsTable: String, fields: Seq[String],
                    tokenPred: Column,
                    boost: Option[Column] = None): DataFrame =
    bm25ScoreTail(
      spark.table(postingsTable).filter(tokenPred),
      spark.table(dfTable).filter(tokenPred),
      broadcast(spark.table(statsTable)), fields, boost)

  /** [[bm25MultiField]] served from the persisted index (exact
    * tokens; q95/q96 prove oracle-identity with q65/q69).
    */
  def bm25MultiFieldFromIndex(spark: org.apache.spark.sql.SparkSession,
                              postingsTable: String, dfTable: String,
                              statsTable: String, fields: Seq[String],
                              queryToks: Seq[String]): DataFrame =
    bm25FromIndex(spark, postingsTable, dfTable, statsTable, fields,
      tokenPred = $"tok".isin(queryToks: _*))

  /** [[bm25ClassicScores]] served from the persisted index: the AUTO
    * fuzzy expansion rides the postings scan as a predicate on the
    * token column — the expansion is resolved against the INDEX's
    * vocabulary (each matched term scored with its own persisted
    * statistics), never by re-tokenizing the corpus.
    */
  def bm25ClassicScoresFromIndex(spark: org.apache.spark.sql.SparkSession,
                                 postingsTable: String, dfTable: String,
                                 statsTable: String, fields: Seq[String],
                                 query: String): DataFrame = {
    val (pred, bsum) = fuzzyPredBoost(query)
    bm25FromIndex(spark, postingsTable, dfTable, statsTable, fields,
      tokenPred = pred, boost = Some(bsum))
  }

  /** [[bm25Classic]] served from the persisted index — the complete
    * user-facing classic search (AUTO-fuzzy BM25 ranking + display
    * columns + top-k) where scoring touches ONLY the index tables;
    * the corpus view is read once by the ≤k-row display join. This is
    * the reference's serving shape end-to-end: ES scores from its
    * warm index and fetches _source for the page of hits
    * (app/main.py:88-97). q97 proves it against q80's oracle.
    */
  def bm25ClassicOnIndex(spark: org.apache.spark.sql.SparkSession,
                         postingsTable: String, dfTable: String,
                         statsTable: String, view: DataFrame,
                         query: String, k: Int = 500): DataFrame = {
    val scores = bm25ClassicScoresFromIndex(spark, postingsTable,
      dfTable, statsTable,
      Seq("name", "ingredients_text", "steps_text"), query)
    val topk = scores.orderBy($"score_fp".desc, $"id".asc).limit(k)
    broadcast(topk)
      .join(view.select(col("product_id"), col("name")),
        topk("id") === col("product_id"))
      .select(col("product_id"), col("name"), $"score_fp")
      .orderBy($"score_fp".desc, col("product_id").asc)
  }

  /** The fuzzy-expansion predicate + Lucene-style boost sum for a
    * literal query — shared by [[bm25ClassicScores]] (inline) and
    * [[bm25ClassicScoresFromIndex]] so the two forms cannot drift.
    */
  private[graft] def fuzzyPredBoost(query: String): (Column, Column) = {
    val qts = analyzeLiteral(query)
    require(qts.nonEmpty, "bm25 classic needs a non-empty query")
    val pred = qts.map(qt => fuzzyPairLit($"tok", qt)).reduce(_ || _)
    val bsum = qts.map { qt =>
      val k = tokenFuzz(qt)
      val qlen = qt.codePointCount(0, qt.length)
      val d = levenshtein($"tok", lit(qt), k)
      when((abs(length($"tok") - lit(qlen)) <= k) && (d >= 0),
        (lit(qlen) - d).cast("double") / lit(qlen.toDouble))
        .otherwise(lit(0.0))
    }.reduce(_ + _)
    (pred, bsum)
  }

  /** Fuzzy-expanded multi-field BM25 scores — how ES `multi_match`
    * with `fuzziness: AUTO` actually ranks (app/main.py:88-97): each
    * query token expands to the corpus terms within its AUTO edit
    * budget, and every expanded term is scored with ITS OWN BM25
    * statistics (df, tf, field length), damped by the Lucene fuzzy
    * boost `(qlen − distance) / qlen` — so an exact match strictly
    * outranks a distance-2 match of equal df/tf/dl. Deterministic
    * fixed-point form; per query token the boosts of all matched terms
    * sum (a term matched by several query tokens contributes once per
    * match, like one Boolean SHOULD clause per expansion).
    *
    * Same single-pass scale shape as [[bm25MultiField]]: one tagged
    * explode, one corpus shuffle, df derived from the tf aggregate —
    * the fuzzy predicate (length pre-filter + threshold-bounded
    * levenshtein against literal query tokens) rides the explode
    * filter, so expansion never materializes a vocabulary table.
    */
  def bm25ClassicScores(docs: DataFrame, idCol: String,
                        fields: Seq[String], query: String): DataFrame = {
    val (pred, bsum) = fuzzyPredBoost(query)
    bm25Tagged(docs, idCol, fields, tokenPred = pred, boost = Some(bsum))
  }

  /** [[classic]] ranked the reference's way: fuzzy-AUTO multi_match
    * over (name, ingredients_text, steps_text) scored with
    * [[bm25ClassicScores]] instead of integer hit counts — the BM25
    * ranking a user of app/main.py:88-97 actually gets, with the
    * engine's deterministic fixed point. Top-k first (per-partition
    * heaps), then the ≤k winners broadcast-join back for display
    * columns — the corpus is never joined or re-sorted.
    */
  def bm25Classic(view: DataFrame, query: String, k: Int = 500): DataFrame = {
    val scores = bm25ClassicScores(view, "product_id",
      Seq("name", "ingredients_text", "steps_text"), query)
    val topk = scores.orderBy($"score_fp".desc, $"id".asc).limit(k)
    broadcast(topk)
      .join(view.select(col("product_id"), col("name")),
        topk("id") === col("product_id"))
      .select(col("product_id"), col("name"), $"score_fp")
      .orderBy($"score_fp".desc, col("product_id").asc)
  }

  def idfSearch(docs: DataFrame, idCol: String, textCol: String,
                queryToks: Seq[String]): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
      explode(analyze(col(textCol))).as("tok"))
      .filter($"tok".isin(queryToks: _*))
    // Corpus size N stays IN the plan (a broadcast single-row aggregate
    // cross-joined in) — no driver-side count() job at construction
    // time, no second full-corpus scan at 100 TB, and callers control
    // when anything runs (the builder is fully lazy).
    val nRow = broadcast(docs.agg(count(lit(1)).cast("double").as("n_docs")))
    val df_ = toks.select($"id", $"tok").distinct()
      .groupBy($"tok").agg(count(lit(1)).as("df"))
    val tf = toks.groupBy($"id", $"tok").agg(count(lit(1)).as("tf"))
    tf.join(broadcast(df_), Seq("tok"))
      .crossJoin(nRow)
      .withColumn("contrib",
        floor($"tf".cast("double") *
          ($"n_docs" / $"df".cast("double")) * lit(1e9)).cast("long"))
      .groupBy($"id").agg(sum($"contrib").as("score_fp"))
      .filter($"score_fp" > 0)
  }

  /** Hybrid lexical + vector retrieval via Reciprocal Rank Fusion
    * (Cormack, Clarke & Büttcher, "Reciprocal rank fusion outperforms
    * Condorcet and individual rank learning methods", SIGIR 2009) —
    * the fusion production search stacks run because BM25 and cosine
    * scores live on incomparable scales while RANKS always fuse: each
    * system contributes 10⁶ DIV (kRrf + rank) for its top-`n` list
    * (exact integer, the ppm discipline; kRrf = 60 is the paper's
    * constant), a document absent from one list contributes 0 there,
    * final order (rrf_fp desc, id asc). `corpus`/`queryVec` are
    * [[graft.ops.Similarity.prepared]] frames (queryVec one row — its
    * own vector is excluded from its neighbors by knnBrute's
    * self-filter). Returns (id, rrf_fp, rank), rank 1..k.
    *
    * Scale shape: the BM25 side keeps [[bm25Search]]'s 2-scan /
    * 1-shuffle plan plus one rank window over the MATCHED set only
    * (docs sharing ≥ 1 query token — query-bounded, not
    * corpus-bounded); the vector side is [[graft.ops.Similarity
    * .knnBrute]]'s broadcast-query scan with its k-bounded window;
    * the fusion itself is an n-bounded union + aggregate.
    *
    * Single-query contract (shared by the FromIndex / AnnFromIndex
    * forms): construction runs a limit-2 guard job and THROWS
    * `IllegalArgumentException` when `queryVec` is empty or has ≥ 2
    * rows — an empty frame no longer yields a lexical-only fused
    * ranking (round-14 change, noted per round-14 ADVICE). Batch
    * callers use [[hybridRrfBatchFromIndex]].
    */
  def hybridRrf(docs: DataFrame, idCol: String, textCol: String,
                queryToks: Seq[String], corpus: DataFrame,
                queryVec: DataFrame, n: Int, k: Int,
                kRrf: Int = 60): DataFrame =
    fuseRrf(bm25Search(docs, idCol, textCol, queryToks),
      corpus, queryVec, n, k, kRrf)

  /** [[hybridRrf]] with the lexical side served from the PERSISTED
    * BM25 index ([[writeBm25Index]] tables) — the hybrid stack's
    * production shape: repeat queries never re-tokenize the corpus
    * (the index scan is token-pruned and bucketed), and since
    * [[bm25MultiFieldFromIndex]] is result-identical to the inline
    * form (q95's proof), the fused ranking is identical too — the
    * gate runs it under the inline composition's oracle verbatim.
    * Same single-query contract as [[hybridRrf]]: empty / multi-row
    * `queryVec` throws at construction.
    */
  def hybridRrfFromIndex(spark: org.apache.spark.sql.SparkSession,
                         postingsTable: String, dfTable: String,
                         statsTable: String, field: String,
                         queryToks: Seq[String], corpus: DataFrame,
                         queryVec: DataFrame, n: Int, k: Int,
                         kRrf: Int = 60): DataFrame =
    fuseRrf(bm25MultiFieldFromIndex(spark, postingsTable, dfTable,
        statsTable, Seq(field), queryToks),
      corpus, queryVec, n, k, kRrf)

  /** [[hybridRrfFromIndex]] with the VECTOR side served from the
    * persisted IVF-PQ index as well (VERDICT r13 Next #1) — the fully
    * index-served hybrid stack: the lexical leg reads only the
    * bucketed postings/df/stats tables, and the vector leg is
    * [[graft.ops.Similarity.knnIvfPqRerankOnIndex]] — probes and
    * ADC tables resolved on the driver → one bucket-pruned codes scan
    * keeping a per-partition ADC shortlist → exact re-rank fetching
    * full vectors for ONLY queries × `shortlist` rows (the vector
    * leg runs its jobs when this is called; the fusion stays lazy).
    * No leg scans the corpus per query:
    * [[hybridRrf]]/[[hybridRrfFromIndex]] rank the vector side with
    * [[graft.ops.Similarity.knnBrute]], a full prepared-vector scan
    * per query, which is exactly what the PQ index exists to avoid
    * reading at 100 TB.
    *
    * Unlike the lexical swap (result-identical, q95's proof), the
    * ANN vector leg CHANGES the ranking where the shortlist misses a
    * true neighbor — the fused result is a deterministic function of
    * the IVF-PQ arithmetic (every step exact int64 / single double
    * divisions), so the gate replays probe selection, ADC, re-rank
    * and fusion end-to-end rather than gating under the brute form's
    * oracle (q104/q228's discipline). Same single-query contract as
    * [[hybridRrf]]: empty / multi-row `queryVec` throws at
    * construction.
    */
  def hybridRrfAnnFromIndex(spark: org.apache.spark.sql.SparkSession,
                            postingsTable: String, dfTable: String,
                            statsTable: String, field: String,
                            queryToks: Seq[String], pqIndexTable: String,
                            corpus: DataFrame, queryVec: DataFrame,
                            coarse: DataFrame, codebooks: DataFrame,
                            m: Int, dims: Int, n: Int, k: Int,
                            nProbe: Int, shortlist: Int,
                            kRrf: Int = 60): DataFrame = {
    requireSingleQuery(queryVec)
    fuseRrfRanked(bm25MultiFieldFromIndex(spark, postingsTable, dfTable,
        statsTable, Seq(field), queryToks),
      graft.ops.Similarity.knnIvfPqRerankOnIndex(spark, pqIndexTable,
        corpus, queryVec, coarse, codebooks, m, dims, k = n,
        nProbe = nProbe, shortlist = shortlist),
      n, k, kRrf)
  }

  /** BM25 scores for an EXPLICIT (query_id, tok) query table — the
    * BATCH-SERVING lexical form: ONE scan of the persisted postings
    * index scores N queries at once (per-row contrib arithmetic is
    * [[bm25ScoreTail]]'s verbatim — a (doc, tok) contrib is
    * query-independent, so rows are tagged with query_id by a
    * broadcast join and summed per (query_id, id)). Single `field`:
    * the multi-field best-of needs a per-field pivot that the batch
    * shape doesn't change — compose per field if needed.
    *
    * Scale note vs [[bm25MultiFieldFromIndex]]: literal query tokens
    * push an IN filter into the bucketed scan; a DYNAMIC query table
    * cannot, so this reads the postings for the UNION of all query
    * tokens through a broadcast semi-structure instead — the point of
    * batch serving is amortizing that one scan over the whole query
    * set.
    */
  def bm25MultiQueryFromIndex(spark: org.apache.spark.sql.SparkSession,
                              postingsTable: String, dfTable: String,
                              statsTable: String, field: String,
                              queryToks: DataFrame): DataFrame = {
    val qt = broadcast(
      queryToks.select($"query_id", $"tok").distinct())
    val tf = spark.table(postingsTable).filter($"field" === field)
      .join(broadcast(qt.select($"tok").distinct()), Seq("tok"),
        "left_semi")
    val df_ = spark.table(dfTable).filter($"field" === field)
    val stats = broadcast(spark.table(statsTable))
    tf.join(qt, Seq("tok"))
      .join(broadcast(df_), Seq("field", "tok"))
      .crossJoin(stats)
      .withColumn("tt", col(s"_t_$field"))
      .withColumn("idf",
        log(($"n_docs".cast("double") + lit(1.0)) /
          ($"df".cast("double") + lit(0.5))))
      .withColumn("tfpart",
        (lit(22L) * $"tf" * $"tt").cast("double") /
          (lit(10L) * $"tf" * $"tt" + lit(3L) * $"tt" +
            lit(9L) * $"dl" * $"n_docs").cast("double"))
      .withColumn("contrib", floor($"idf" * $"tfpart" * lit(1e6)).cast("long"))
      .groupBy($"query_id", $"id")
      .agg(sum($"contrib").as("score_fp"))
      .filter($"score_fp" > 0)
  }

  /** BATCH hybrid serving — the production form of the ADVICE r13
    * observation that RRF must fuse PER QUERY: N (query_id, token
    * set) lexical queries and N query vectors served together, every
    * window partitioned by query_id (WindowGroupLimit-bounded — no
    * global sort grows with the query batch), one postings scan and
    * one driver-resolved IVF-PQ serve for the whole set (its jobs run
    * when this is called). Output: (query_id, id, rrf_fp, rank),
    * rank 1..k per query.
    */
  def hybridRrfBatchFromIndex(spark: org.apache.spark.sql.SparkSession,
                              postingsTable: String, dfTable: String,
                              statsTable: String, field: String,
                              queryToks: DataFrame, pqIndexTable: String,
                              corpus: DataFrame, queryVecs: DataFrame,
                              coarse: DataFrame, codebooks: DataFrame,
                              m: Int, dims: Int, n: Int, k: Int,
                              nProbe: Int, shortlist: Int,
                              kRrf: Int = 60): DataFrame =
    fuseRrfRankedPerQuery(
      bm25MultiQueryFromIndex(spark, postingsTable, dfTable, statsTable,
        field, queryToks),
      graft.ops.Similarity.knnIvfPqRerankOnIndex(spark, pqIndexTable,
        corpus, queryVecs, coarse, codebooks, m, dims, k = n,
        nProbe = nProbe, shortlist = shortlist),
      n, k, kRrf)

  /** [[fuseRrfRanked]] per query: `bmScores` = (query_id, id,
    * score_fp), `vecRanked` = (query_id, neighbor_id, rank 1..n);
    * ranks, contributions and the final top-k all partition by
    * query_id, so fusion never mixes queries (the ADVICE r13 hazard)
    * and every window is a per-partition bounded group limit.
    */
  def fuseRrfRankedPerQuery(bmScores: DataFrame, vecRanked: DataFrame,
                            n: Int, k: Int,
                            kRrf: Int = 60): DataFrame = {
    require(k >= 1 && n >= k, s"need n >= k >= 1, got n=$n k=$k")
    require(kRrf >= 1, s"kRrf must be >= 1, got $kRrf")
    import org.apache.spark.sql.expressions.Window
    val wq = Window.partitionBy($"query_id")
      .orderBy($"score_fp".desc, $"id".asc)
    val bm = bmScores
      .withColumn("r", row_number().over(wq).cast("long"))
      .filter($"r" <= n)
      .select($"query_id", $"id",
        expr(s"1000000 DIV ($kRrf + r)").as("c"))
    val vec = vecRanked
      .select($"query_id", $"neighbor_id".as("id"),
        expr(s"1000000 DIV ($kRrf + rank)").as("c"))
    bm.unionByName(vec)
      .groupBy($"query_id", $"id").agg(sum($"c").as("rrf_fp"))
      .withColumn("rank", row_number().over(
        Window.partitionBy($"query_id")
          .orderBy($"rrf_fp".desc, $"id".asc)).cast("long"))
      .filter($"rank" <= k)
  }

  /** RRF fuses the two systems' ranks into ONE ranking, so a
    * multi-row queryVec would silently SUM per-query rank
    * contributions across unrelated queries (ADVICE r13). queryVec is
    * the user's single query vector — the guard projects to a
    * constant and limit-2 short-circuits after two rows, so it stays
    * cheap even when the caller passes a filtered corpus scan.
    * DELIBERATE trade (round-14 review): this runs one tiny Spark job
    * at CONSTRUCTION time inside otherwise-lazy builders — these are
    * single-query serve entry points where construction is followed
    * by execution, and a lazy in-plan assertion would cost a full
    * count plus a cross join in EVERY execution instead. Batch
    * callers use [[hybridRrfBatchFromIndex]], which needs no guard.
    */
  private def requireSingleQuery(queryVec: DataFrame): Unit = {
    val nq = queryVec.select(lit(1)).limit(2).count()
    require(nq == 1L,
      s"hybrid RRF fuses ranks for exactly ONE query vector; got " +
        s"${if (nq == 0) "an empty frame" else ">= 2 rows"} — fuse " +
        "per query by calling once per vector")
  }

  /** The shared RRF tail: rank the (id, score_fp) lexical table over
    * its matched set, rank the vector side with knnBrute, fuse.
    */
  private def fuseRrf(bmScores: DataFrame, corpus: DataFrame,
                      queryVec: DataFrame, n: Int, k: Int,
                      kRrf: Int): DataFrame = {
    requireSingleQuery(queryVec)
    fuseRrfRanked(bmScores,
      graft.ops.Similarity.knnBrute(corpus, queryVec, n), n, k, kRrf)
  }

  /** The rank-fusion core shared by the brute and index-served
    * vector legs — PUBLIC so maintained-state serves compose
    * (q244 fuses [[graft.streaming.StreamingUpsert
    * .bm25FromCompactedState]] with a [[graft.streaming
    * .StreamingUpsert.pqIndexServe]] shortlist re-ranked by
    * [[graft.ops.Similarity.rerankExact]]). Contract: `bmScores` is
    * the (id, score_fp) lexical table for ONE query's token set;
    * `vecRanked` is an already-ranked (neighbor_id, rank) table for
    * ONE query vector, rank 1..n ([[graft.ops.Similarity.knnBrute]],
    * [[graft.ops.Similarity.knnIvfPqRerankOnIndex]] and the
    * state-served shortlist+rerank composition all cap there).
    * Both `row_number <= n` windows plan bounded
    * (TakeOrderedAndProject / WindowGroupLimit — PlanSpec pins it on
    * this path) and range over query-bounded sets only: BM25-matched
    * docs / the vector leg's top-n list.
    */
  def fuseRrfRanked(bmScores: DataFrame, vecRanked: DataFrame,
                    n: Int, k: Int, kRrf: Int = 60): DataFrame = {
    require(k >= 1 && n >= k, s"need n >= k >= 1, got n=$n k=$k")
    require(kRrf >= 1, s"kRrf must be >= 1, got $kRrf")
    import org.apache.spark.sql.expressions.Window
    val bm = bmScores
      .withColumn("r", row_number().over(
        Window.orderBy($"score_fp".desc, $"id".asc)).cast("long"))
      .filter($"r" <= n)
      .select($"id", expr(s"1000000 DIV ($kRrf + r)").as("c"))
    val vec = vecRanked
      .select($"neighbor_id".as("id"),
        expr(s"1000000 DIV ($kRrf + rank)").as("c"))
    bm.unionByName(vec)
      .groupBy($"id").agg(sum($"c").as("rrf_fp"))
      .withColumn("rank", row_number().over(
        Window.orderBy($"rrf_fp".desc, $"id".asc)).cast("long"))
      .filter($"rank" <= k)
  }
}
