package graft.pipeline

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval (SURVEY §2c #33u): fuse a LEXICAL ranking (the
  * [[TextAnalysis.bm25]] rational-BM25 formula, query-by-example over
  * an anchor document's distinct tokens) with a DENSE ranking (cosine
  * over the `embeddings` table, vec_id ≡ doc_id) via Reciprocal Rank
  * Fusion — the production hybrid-search shape (Cormack et al. 2009:
  * RRF(d) = Σ_systems 1/(K + rank_s(d)), K = 60).
  *
  * Everything is rank arithmetic over exact intermediates, so the
  * fusion is hash-stable: per-term lexical scores are the bm25
  * exact-product divisions summed as DECIMAL, ranks are integers, and
  * each 1/(60+r) term is a correctly-rounded scale-9 DECIMAL — a
  * half-tie at scale 9 would need the denominator to divide 2·10⁹,
  * and the only such denominators in [61, 60+depth] are powers of
  * 2·5 whose decimal expansions terminate before the 9th place, so
  * rounding never sits on a tie. */
object Retrieval {

  /** Anchor documents (query-by-example): doc_id < this. */
  val RrfNumQueries = 10
  /** The RRF constant K (standard 60). */
  val RrfK = 60
  /** Fusion depth: each system contributes its top-D ranking. */
  val RrfDepth = 20
  /** Fused results kept per anchor. */
  val RrfTopK = 10
  /** Query-by-example term budget (Lucene MoreLikeThis'
    * max_query_terms posture): an anchor contributes at most this
    * many distinct tokens — its most characteristic by (tf desc,
    * token) — so the broadcast query relation is STRUCTURALLY bounded
    * by anchors × this, whatever a pathological anchor document looks
    * like. (The synthetic vocabulary is ~40 words, so the cap never
    * binds at test scale; it exists for the 2 GB-document case.) */
  val RrfMaxQueryTerms = 64

  def retrievalRrf(spark: SparkSession, dir: String): DataFrame =
    rrfOn(
      Tables.spread(Tables.documents(spark, dir)).select(col("doc_id"), col("text")),
      Tables.spread(Tables.embeddings(spark, dir)))

  /** 1/(K + rank) as an exact scale-9 DECIMAL; an absent rank (the doc
    * surfaced in only one system's top-D) contributes exactly 0. */
  private def rr(rank: Column): Column =
    coalesce(round(lit(1.0) / (lit(RrfK) + rank), 9).cast("decimal(20,9)"),
      lit(java.math.BigDecimal.ZERO).cast("decimal(20,9)"))

  /** The lexical system's building blocks — shared by the fusion
    * ([[rrfOn]] via [[lexDense]]), the evaluation ([[evalOn]]) and
    * the feedback loop ([[prfOn]]). `docStats` is the doc-grain
    * (doc_id, dl) relation; `nt` the 1-row (n_docs, t_toks) statistic
    * (one broadcast instead of two — r14, see
    * [[TextAnalysis.bm25Stats]]). */
  private[pipeline] final case class LexParts(tf: DataFrame, dfRel: DataFrame,
      docStats: DataFrame, nt: DataFrame, qt: DataFrame, lex: DataFrame)

  private[pipeline] def lexSystem(d: DataFrame): LexParts =
    lexPartsFromTf(TextAnalysis.tfRelation(d))

  /** [[lexSystem]]'s parts from the tf SUFFICIENT STATISTIC alone —
    * the [[TextAnalysis.bm25FromTf]] derivations shaped for the
    * evaluation, so the same lexical system runs from raw text
    * ([[lexSystem]]) or from a persisted [[Bm25Index]] edition
    * ([[retrievalEvalEditions]]) with no other code path: df/dl and
    * the query/probe sides read the token-ful rows, N counts every
    * doc (the NULL-token rows' reason to exist), T sums tf (NULL
    * rows carry tf = 0). */
  private[pipeline] def lexPartsFromTf(tfAll: DataFrame): LexParts = {
    val tfCk = tfAll.localCheckpoint() // feeds df, docStats, probe AND anchors
    val tf = tfCk.filter(col("token").isNotNull)
    val dfRel = tf.groupBy(col("token")).agg(count(lit(1)).as("df"))
    // docStats over the UNFILTERED tfCk: n_docs must count token-less
    // docs (their NULL-token rows carry tf = 0, so dl/t_toks are
    // unchanged and the probe's inner join never sees them)
    val (docStats, nt) = TextAnalysis.bm25Stats(tfCk)
    // anchors' query terms — tf is already (doc, token)-distinct, and
    // the MLT-style term budget makes the relation STRUCTURALLY
    // ≤ anchors × RrfMaxQueryTerms rows (PlanGuard-provable), so it
    // broadcasts into the probe and the corpus never shuffles for the
    // query side
    val wTerms = Window.partitionBy(col("query_id"))
      .orderBy(col("tf").desc, col("token"))
    val qt = tf.filter(col("doc_id") < RrfNumQueries)
      .select(col("doc_id").as("query_id"), col("token"), col("tf"))
      .withColumn("rank", row_number().over(wTerms))
      .filter(col("rank") <= RrfMaxQueryTerms)
      .select(col("query_id"), col("token"))
    val wLex = Window.partitionBy(col("query_id")).orderBy(col("lex").desc, col("doc_id"))
    val lex = TextAnalysis.bm25Probe(tf, docStats, dfRel, nt, qt)
      .filter(col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("s")).as("lex"))
      .withColumn("lex_rank", row_number().over(wLex))
      .filter(col("lex_rank") <= RrfDepth)
      .select(col("query_id"), col("doc_id"), col("lex_rank"))
    LexParts(tf, dfRel, docStats, nt, qt, lex)
  }

  /** The two systems' top-[[RrfDepth]] rank relations — shared by
    * the fusion ([[rrfOn]]) and the evaluation ([[evalOn]]). */
  private[pipeline] def lexDense(d: DataFrame, e: DataFrame): (DataFrame, DataFrame) =
    (lexSystem(d).lex, denseSystem(e))

  private[pipeline] def denseSystem(e: DataFrame): DataFrame = {
    // ---- dense system: exact cosine against the anchor vectors
    val vecs = e.select(col("vec_id"),
      transform(col("embedding"), x => x.cast("double")).as("v"))
      .withColumn("n2", graft.functions.VecDot.dot(col("v"), col("v")))
    val q = vecs.filter(col("vec_id") < RrfNumQueries)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("n2").as("qn2"))
    val wDense = Window.partitionBy(col("query_id")).orderBy(col("cos_sim").desc, col("vec_id"))
    vecs.join(broadcast(q), col("vec_id") =!= col("query_id"))
      .withColumn("cos_sim", round(
        graft.functions.VecDot.dot(col("qv"), col("v")) /
          (sqrt(col("qn2")) * sqrt(col("n2"))), 6))
      .withColumn("dense_rank", row_number().over(wDense))
      .filter(col("dense_rank") <= RrfDepth)
      .select(col("query_id"), col("vec_id").as("doc_id"), col("dense_rank"))
  }

  private[pipeline] def rrfOn(d: DataFrame, e: DataFrame): DataFrame = {
    val (lex, dense) = lexDense(d, e)
    rrfFuse(lex, dense)
  }

  private def rrfFuse(lex: DataFrame, dense: DataFrame): DataFrame = {
    // ---- fusion: both top-D relations are ≤ anchors × depth rows.
    // A FULL OUTER join on (query_id, doc_id) of two rank-UNIQUE
    // relations is exactly union + one max-per-key aggregation: the
    // key set is the union of key sets, and each side contributes its
    // rank (max over {rank} ∪ {null} = rank) or null. Same rows, same
    // rank pair, same rrf decimals — but ONE exchange with map-side
    // combine instead of two co-partitioning exchanges + sorts into a
    // SortMergeJoin FullOuter, which was the retrieval plans' only
    // sort-merge join (r14, guide §2.4).
    val wFused = Window.partitionBy(col("query_id")).orderBy(col("rrf").desc, col("doc_id"))
    lex.select(col("query_id"), col("doc_id"), col("lex_rank"),
        lit(null).cast("int").as("dense_rank"))
      .unionByName(dense.select(col("query_id"), col("doc_id"),
        lit(null).cast("int").as("lex_rank"), col("dense_rank")))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(max(col("lex_rank")).as("lex_rank"),
        max(col("dense_rank")).as("dense_rank"))
      .withColumn("rrf", rr(col("lex_rank")) + rr(col("dense_rank")))
      .withColumn("rank", row_number().over(wFused))
      .filter(col("rank") <= RrfTopK)
      .select(col("query_id"), col("rank"), col("doc_id"),
        coalesce(col("lex_rank"), lit(0)).as("lex_rank"),
        coalesce(col("dense_rank"), lit(0)).as("dense_rank"),
        col("rrf").cast("double").as("rrf_score"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** The fusion pipeline as oracle CTEs (through `ranked`) — shared
    * verbatim by [[retrievalRrfSql]] and [[retrievalEvalSql]]. */
  private val rrfCtes: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${TextAnalysis.tokensSql}) AS token FROM documents),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |dfr AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |t AS (SELECT CAST(SUM(tf) AS BIGINT) AS t_toks FROM tf),
       |qt AS (
       |  SELECT query_id, token FROM (
       |    SELECT doc_id AS query_id, token,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf DESC, token) AS trank
       |    FROM tf WHERE doc_id < $RrfNumQueries)
       |  WHERE trank <= $RrfMaxQueryTerms),
       |lexterms AS (
       |  SELECT qt.query_id, tf.doc_id,
       |    ${TextAnalysis.bm25TermScoreSql} AS s
       |  FROM tf
       |  JOIN qt USING (token) JOIN dfr USING (token)
       |  JOIN dl ON tf.doc_id = dl.doc_id
       |  CROSS JOIN n CROSS JOIN t
       |  WHERE tf.doc_id <> qt.query_id),
       |lexranked AS (
       |  SELECT query_id, doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY SUM(s) DESC, doc_id) AS INT) AS lex_rank
       |  FROM lexterms GROUP BY 1, 2),
       |lextop AS (SELECT * FROM lexranked WHERE lex_rank <= $RrfDepth),
       |e AS (
       |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
       |  FROM embeddings),
       |vecs AS (
       |  SELECT vec_id, v,
       |    list_reduce(list_prepend(CAST(0.0 AS DOUBLE), list_transform(v, x -> x * x)), (acc, x) -> acc + x) AS n2
       |  FROM e),
       |denseranked AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
       |      round(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |        list_transform(generate_series(1, len(q.v)), i -> q.v[i] * c.v[i])), (acc, x) -> acc + x)
       |      / (sqrt(q.n2) * sqrt(c.n2)), 6) DESC, c.vec_id) AS INT) AS dense_rank
       |  FROM vecs q JOIN vecs c ON q.vec_id < $RrfNumQueries AND c.vec_id <> q.vec_id),
       |densetop AS (SELECT * FROM denseranked WHERE dense_rank <= $RrfDepth),
       |fused AS (
       |  SELECT COALESCE(l.query_id, d.query_id) AS query_id,
       |    COALESCE(l.doc_id, d.doc_id) AS doc_id,
       |    COALESCE(l.lex_rank, 0) AS lex_rank,
       |    COALESCE(d.dense_rank, 0) AS dense_rank,
       |    COALESCE(CAST(round(1.0 / ($RrfK + l.lex_rank), 9) AS DECIMAL(20,9)),
       |             CAST(0 AS DECIMAL(20,9)))
       |    + COALESCE(CAST(round(1.0 / ($RrfK + d.dense_rank), 9) AS DECIMAL(20,9)),
       |               CAST(0 AS DECIMAL(20,9))) AS rrf
       |  FROM lextop l FULL OUTER JOIN densetop d
       |    ON l.query_id = d.query_id AND l.doc_id = d.doc_id),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY rrf DESC, doc_id) AS INT) AS rank FROM fused)
       |""".stripMargin

  val retrievalRrfSql: String = rrfCtes +
    s"""SELECT query_id, rank, doc_id, lex_rank, dense_rank,
       |  CAST(rrf AS DOUBLE) AS rrf_score
       |FROM ranked WHERE rank <= $RrfTopK
       |ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------------------------ #33w retrieval_prf

  /** Pseudo-relevant docs fed back per anchor. */
  val PrfFeedbackDocs = 5
  /** Expansion terms added per anchor. */
  val PrfExpansionTerms = 8
  /** Rocchio-style integer weights: original terms count double,
    * expansion terms single — integer multipliers on the scale-9
    * per-term scores keep the expanded sum EXACT (no re-division). */
  val PrfOrigWeight = 2
  val PrfExpWeight = 1

  /** #33w: PSEUDO-RELEVANCE FEEDBACK (Rocchio / RM3 shape) — the
    * query-expansion loop that closes the retrieval family: run the
    * first-pass lexical ranking, treat its top-[[PrfFeedbackDocs]]
    * docs as pseudo-relevant, pool their term frequencies, take the
    * top-[[PrfExpansionTerms]] terms an anchor's own query didn't
    * already contain, and re-score the corpus with the EXPANDED
    * weighted query (original terms ×[[PrfOrigWeight]], expansion
    * terms ×[[PrfExpWeight]]).
    *
    * Exactness: per-term scores are the shared
    * [[TextAnalysis.bm25TermScore]] scale-9 decimals; the Rocchio
    * weights are INTEGER multipliers applied after that one rounding,
    * so the expanded score is an exact DECIMAL sum — associative,
    * rank on the decimal, hash-stable (the [[rrfOn]] argument).
    *
    * Scale shape: ONE tf exchange (shared, localCheckpointed) feeds
    * the first pass, the feedback pool and the second pass. The
    * feedback pool joins tf to an anchors×[[PrfFeedbackDocs]] bounded
    * relation; the expanded query stays STRUCTURALLY bounded at
    * anchors × ([[RrfMaxQueryTerms]] + [[PrfExpansionTerms]]) rows —
    * both query relations broadcast, the corpus never shuffles for
    * the query side, and the second pass is the same probe shape as
    * the first. Two passes is the PRF contract, not a plan defect:
    * the feedback docs cannot exist before pass one ends. */
  def retrievalPrf(spark: SparkSession, dir: String): DataFrame =
    prfOn(Tables.spread(Tables.documents(spark, dir)).select(col("doc_id"), col("text")))

  private[pipeline] def prfOn(d: DataFrame): DataFrame =
    prfFromParts(lexSystem(d))

  /** The feedback loop over an already-built lexical system — shared
    * by [[prfOn]] and [[evalOn]] so the evaluation reuses one tf
    * exchange across all four systems. */
  private[pipeline] def prfFromParts(lp: LexParts): DataFrame = {
    // pseudo-relevant set: first-pass top-R per anchor — structurally
    // ≤ anchors × PrfFeedbackDocs rows (the rank filter), so it
    // broadcasts into the pooling join at any corpus size
    val prel = lp.lex.filter(col("lex_rank") <= PrfFeedbackDocs)
      .select(col("query_id"), col("doc_id"))
    // expansion terms: pooled tf over the feedback docs, minus the
    // anchor's own query terms, top-E per anchor (bounded via the
    // rank ≤ E filter, the qt convention)
    val wExp = Window.partitionBy(col("query_id")).orderBy(col("w").desc, col("token"))
    val expTerms = lp.tf.join(broadcast(prel), Seq("doc_id"))
      .groupBy(col("query_id"), col("token"))
      .agg(sum(col("tf")).as("w"))
      .join(broadcast(lp.qt), Seq("query_id", "token"), "left_anti")
      .withColumn("rank", row_number().over(wExp))
      .filter(col("rank") <= PrfExpansionTerms)
      .select(col("query_id"), col("token"))
    // the expanded weighted query
    val eq = lp.qt.select(col("query_id"), col("token"), lit(PrfOrigWeight).as("wq"))
      .unionByName(expTerms.select(col("query_id"), col("token"), lit(PrfExpWeight).as("wq")))
    val wPrf = Window.partitionBy(col("query_id")).orderBy(col("sd").desc, col("doc_id"))
    TextAnalysis.bm25Probe(lp.tf, lp.docStats, lp.dfRel, lp.nt, eq)
      .filter(col("doc_id") =!= col("query_id"))
      // Rocchio weight as an INTEGER multiplier on the scale-9 term
      // score — the same Multiply the inline expression produced
      .withColumn("s", col("s") * col("wq"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms_hit"), sum(col("s")).as("sd"))
      .withColumn("rank", row_number().over(wPrf))
      .filter(col("rank") <= RrfTopK)
      .select(col("query_id"), col("rank"), col("doc_id"), col("n_terms_hit"),
        round(col("sd").cast("double"), 6).as("prf_score"))
      .orderBy(col("query_id"), col("rank"))
  }

  val retrievalPrfSql: String =
    s"""WITH tok AS (
       |  SELECT doc_id, unnest(${TextAnalysis.tokensSql}) AS token FROM documents),
       |tf AS (SELECT doc_id, token, COUNT(*) AS tf FROM tok GROUP BY 1, 2),
       |dfr AS (SELECT token, COUNT(*) AS df FROM tf GROUP BY 1),
       |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY 1),
       |n AS (SELECT COUNT(*) AS n_docs FROM documents),
       |t AS (SELECT CAST(SUM(tf) AS BIGINT) AS t_toks FROM tf),
       |qt AS (
       |  SELECT query_id, token FROM (
       |    SELECT doc_id AS query_id, token,
       |      ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY tf DESC, token) AS trank
       |    FROM tf WHERE doc_id < $RrfNumQueries)
       |  WHERE trank <= $RrfMaxQueryTerms),
       |lexterms AS (
       |  SELECT qt.query_id, tf.doc_id,
       |    ${TextAnalysis.bm25TermScoreSql} AS s
       |  FROM tf
       |  JOIN qt USING (token) JOIN dfr USING (token)
       |  JOIN dl ON tf.doc_id = dl.doc_id
       |  CROSS JOIN n CROSS JOIN t
       |  WHERE tf.doc_id <> qt.query_id),
       |lexranked AS (
       |  SELECT query_id, doc_id,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |      ORDER BY SUM(s) DESC, doc_id) AS INT) AS lex_rank
       |  FROM lexterms GROUP BY 1, 2),
       |prel AS (SELECT query_id, doc_id FROM lexranked WHERE lex_rank <= $PrfFeedbackDocs),
       |expw AS (
       |  SELECT p.query_id, tf.token, CAST(SUM(tf.tf) AS BIGINT) AS w
       |  FROM tf JOIN prel p ON tf.doc_id = p.doc_id
       |  GROUP BY 1, 2),
       |expt AS (
       |  SELECT query_id, token FROM (
       |    SELECT e.query_id, e.token,
       |      ROW_NUMBER() OVER (PARTITION BY e.query_id ORDER BY e.w DESC, e.token) AS erank
       |    FROM expw e
       |    WHERE NOT EXISTS (
       |      SELECT 1 FROM qt WHERE qt.query_id = e.query_id AND qt.token = e.token))
       |  WHERE erank <= $PrfExpansionTerms),
       |eq AS (
       |  SELECT query_id, token, $PrfOrigWeight AS wq FROM qt
       |  UNION ALL
       |  SELECT query_id, token, $PrfExpWeight AS wq FROM expt),
       |prfterms AS (
       |  SELECT eq.query_id, tf.doc_id,
       |    ${TextAnalysis.bm25TermScoreSql} * eq.wq AS s
       |  FROM tf
       |  JOIN eq USING (token) JOIN dfr USING (token)
       |  JOIN dl ON tf.doc_id = dl.doc_id
       |  CROSS JOIN n CROSS JOIN t
       |  WHERE tf.doc_id <> eq.query_id),
       |scored AS (
       |  SELECT query_id, doc_id, COUNT(*) AS n_terms_hit, SUM(s) AS sd
       |  FROM prfterms GROUP BY 1, 2),
       |ranked AS (
       |  SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |    ORDER BY sd DESC, doc_id) AS INT) AS rank FROM scored)
       |SELECT query_id, rank, doc_id, n_terms_hit,
       |  round(CAST(sd AS DOUBLE), 6) AS prf_score
       |FROM ranked WHERE rank <= $RrfTopK
       |ORDER BY query_id, rank""".stripMargin

  // ------------------------------------------------------------ #33v retrieval_eval

  /** Metrics cutoff: every ranking is evaluated @10. */
  val EvalK = 10
  /** DCG position gains, scaled to integers: `round(1e9 / log2(r+1))`
    * for r = 1..10 — PRECOMPUTED literals shared verbatim by both
    * engines, because log2 is a libm call whose last ulp is not
    * hash-stable across engines (the r11 verdict's own caveat). All
    * downstream metric arithmetic is integer-exact. */
  val DcgGainsE9: Seq[Long] = Seq(1000000000L, 630929754L, 500000000L,
    430676558L, 386852807L, 356207187L, 333333333L, 315464877L,
    301029996L, 289064826L)
  /** Prefix sums of [[DcgGainsE9]]: the ideal DCG for k relevant
    * docs in the top-k positions (index k, 1-based). */
  val IdcgPrefixE9: Seq[Long] = DcgGainsE9.scanLeft(0L)(_ + _).tail

  /** #33v: RETRIEVAL-QUALITY EVALUATION — the accuracy twin the
    * hybrid family lacked (the ann_recall / lang_confusion pattern):
    * per anchor query and per system (lexical BM25, dense cosine,
    * RRF fusion, and — since the PRF loop shipped — the expanded
    * query), graded-relevance metrics @10 against label-derived
    * relevance (a candidate is relevant iff it carries the anchor's
    * `label`; the anchor itself is excluded everywhere, matching the
    * rankers). All metrics are EXACT integers so the DuckDB oracle
    * hash-matches: `hits_at_10` and `total_relevant` are counts,
    * `mrr_e9 = 1e9 // first_relevant_rank` (floor division on
    * positives — engine-identical), `dcg_e9` sums the
    * [[DcgGainsE9]] literals at relevant positions, `idcg_e9` reads
    * the [[IdcgPrefixE9]] literal at `min(10, total_relevant)`.
    * nDCG/MRR as ratios live in RetrievalEvalSpec (doubles are fine
    * in-spec), which also pins the fusion-quality claim: mean nDCG
    * of `fused` ≥ each single system on this corpus.
    *
    * Scale shape: the expensive part IS the ranking pipeline (one
    * corpus scan + one (doc,token) exchange + the broadcast probe —
    * see [[rrfOn]]); the evaluation adds only broadcast-joined
    * rank-grain relations (≤ anchors × depth rows per system) and a
    * label lookup that rides the embeddings scan. */
  def retrievalEval(spark: SparkSession, dir: String): DataFrame =
    evalOn(
      Tables.spread(Tables.documents(spark, dir)).select(col("doc_id"), col("text")),
      Tables.spread(Tables.embeddings(spark, dir)))

  private[pipeline] def evalOn(d: DataFrame, e: DataFrame): DataFrame =
    evalFromParts(lexSystem(d), e)

  /** The evaluation over pre-built lexical parts (and optionally a
    * pre-computed dense ranking — edition-invariant, so
    * [[retrievalEvalEditions]] computes it once). */
  private[pipeline] def evalFromParts(lp: LexParts, e: DataFrame,
      denseIn: Option[DataFrame] = None): DataFrame = {
    // fused/prf are rank-capped at RrfTopK inside rrfFuse/prfFromParts
    // BEFORE the rank <= EvalK filter below; the @EvalK evaluation is
    // complete only while RrfTopK covers it — fail loudly if the
    // constants ever drift apart instead of silently truncating.
    require(RrfTopK >= EvalK,
      s"RrfTopK ($RrfTopK) < EvalK ($EvalK): fused/prf rankings would be " +
        "truncated below the evaluation depth")
    // NOTE (r13 optimization round, measured): the lex/dense rank
    // relations feed three consumers each, but materializing them with
    // localCheckpoint here was TRIED and made retrieval_eval ~1.8×
    // SLOWER (9.8 s vs 5.3 s isolated min-of-3 at sf0.1) — Catalyst's
    // ReuseExchange already dedups the repeated subtrees' shuffles
    // inside the single action, and the eager checkpoints only
    // serialized three extra job barriers. Left shared on purpose.
    val lex = lp.lex
    val dense = denseIn.getOrElse(denseSystem(e))
    val fused = rrfFuse(lex, dense)
    val prf = prfFromParts(lp)
    val rankings = lex.filter(col("lex_rank") <= EvalK)
      .select(col("query_id"), col("doc_id"), lit("lex").as("system"),
        col("lex_rank").as("rank"))
      .unionByName(dense.filter(col("dense_rank") <= EvalK)
        .select(col("query_id"), col("doc_id"), lit("dense").as("system"),
          col("dense_rank").as("rank")))
      .unionByName(fused.filter(col("rank") <= EvalK)
        .select(col("query_id"), col("doc_id"), lit("fused").as("system"),
          col("rank")))
      .unionByName(prf.filter(col("rank") <= EvalK)
        .select(col("query_id"), col("doc_id"), lit("prf").as("system"),
          col("rank")))
    val labels = e.select(col("vec_id").as("doc_id"), col("label"))
    val qLabels = e.filter(col("vec_id") < RrfNumQueries)
      .select(col("vec_id").as("query_id"), col("label").as("q_label"))
    val totalRel = labels.join(broadcast(qLabels),
        col("label") === col("q_label") && col("doc_id") =!= col("query_id"))
      .groupBy(col("query_id"))
      .agg(count(lit(1)).as("total_relevant"))
    val gain = element_at(array(DcgGainsE9.map(lit): _*), col("rank"))
    // rankings is STRUCTURALLY ≤ anchors × EvalK × 4 systems rows
    // (every branch is rank-filtered): broadcast it so the corpus-
    // grain labels side never shuffles for this join (r14)
    val marked = broadcast(rankings)
      .join(labels, Seq("doc_id"))
      .join(broadcast(qLabels), Seq("query_id"))
      .withColumn("rel", (col("label") === col("q_label")).cast("int"))
    val perSystem = marked.groupBy(col("query_id"), col("system"))
      .agg(sum(col("rel")).cast("long").as("hits_at_10"),
        min(when(col("rel") === 1, col("rank"))).as("first_rel"),
        sum(when(col("rel") === 1, gain).otherwise(0L)).cast("long").as("dcg_e9"))
    // LEFT join: an anchor whose label has zero relevant docs still
    // appears in the report (zeroed metrics) instead of silently
    // vanishing — which also makes the total_relevant = 0 idcg branch
    // a live code path rather than dead defence.
    perSystem.join(broadcast(totalRel), Seq("query_id"), "left")
      .withColumn("total_relevant", coalesce(col("total_relevant"), lit(0L)))
      .select(col("query_id"), col("system"), col("hits_at_10"),
        col("total_relevant"),
        coalesce(expr("1000000000 div first_rel"), lit(0L)).as("mrr_e9"),
        col("dcg_e9"),
        when(col("total_relevant") === 0, 0L)
          .otherwise(element_at(array(IdcgPrefixE9.map(lit): _*),
            least(lit(EvalK), col("total_relevant")).cast("int")))
          .as("idcg_e9"))
      .orderBy(col("query_id"), col("system"))
  }

  /** #33v2 driver entry (rows-gated): the four-system evaluation run
    * against EDITIONS of the persisted [[Bm25Index]] — the r12
    * directive's "incremental retrieval_eval". The lexical statistic
    * is read from the index after `write(base) → add(tail) →
    * REPLAYED add` (uncompacted: load collapses the duplicates) and
    * again after `compact` (load plans no distinct at all), plus the
    * from-text recompute; the dense system is edition-invariant and
    * computed once. METRIC STABILITY is the claim: every (query,
    * system) metric row must be identical across all three editions —
    * the 33t2 structural-equality argument (same scoring plan,
    * differently-sourced tf) made a committed eval artifact, and
    * pinned by RetrievalEvalSpec. Rows-gated because the entry owns
    * index-mutation side effects (temp-dir write/add/compact) a SQL
    * oracle cannot replay. */
  def retrievalEvalEditions(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.spread(Tables.documents(spark, dir)).select(col("doc_id"), col("text"))
    val e = Tables.spread(Tables.embeddings(spark, dir))
    val dense = denseSystem(e).localCheckpoint()
    val path = java.nio.file.Files.createTempDirectory("graft_bm25_eval").toString
    // the from-text edition never touches the index directory — its
    // composition (whose eager part is the tokenize→tf checkpoint)
    // overlaps the write→add→add→eval→compact chain (guide §2.6, the
    // cleanStats pattern; frames deterministic)
    val Seq(fromText, indexed) = graft.Concurrently(spark)(Seq(
      () => evalFromParts(lexSystem(d), e, Some(dense)).withColumn("edition", lit("from_text")),
      () => {
        Bm25Index.write(d.filter(col("doc_id") < Bm25Index.AddSplit), path)
        val tail = d.filter(col("doc_id") >= Bm25Index.AddSplit)
        Bm25Index.add(tail, path)
        Bm25Index.add(tail, path) // replayed append: at-least-once ingestion
        // The barrier against compact rewriting the directory underneath
        // is the EAGER tf localCheckpoint inside lexPartsFromTf — after it
        // nothing in this edition reads the parquet again, so the eval
        // itself stays LAZY and its stages overlap with the compacted and
        // from-text editions inside the one final action (r13 optimization
        // round: the previous full-eval localCheckpoint here serialized an
        // entire edition's evaluation before compact could even start).
        val added = evalFromParts(lexPartsFromTf(Bm25Index.load(spark, path)), e, Some(dense))
          .withColumn("edition", lit("added"))
        Bm25Index.compact(spark, path)
        added.unionByName(
          evalFromParts(lexPartsFromTf(Bm25Index.load(spark, path)), e, Some(dense))
            .withColumn("edition", lit("compacted")))
      }))
    fromText.unionByName(indexed)
      .select(col("edition"), col("query_id"), col("system"), col("hits_at_10"),
        col("total_relevant"), col("mrr_e9"), col("dcg_e9"), col("idcg_e9"))
      .orderBy(col("edition"), col("query_id"), col("system"))
  }

  val retrievalEvalSql: String = rrfCtes +
    s""", fusedtop AS (SELECT query_id, doc_id, rank FROM ranked WHERE rank <= $EvalK),
       |prel AS (SELECT query_id, doc_id FROM lexranked WHERE lex_rank <= $PrfFeedbackDocs),
       |expw AS (
       |  SELECT p.query_id, tf.token, CAST(SUM(tf.tf) AS BIGINT) AS w
       |  FROM tf JOIN prel p ON tf.doc_id = p.doc_id
       |  GROUP BY 1, 2),
       |expt AS (
       |  SELECT query_id, token FROM (
       |    SELECT e.query_id, e.token,
       |      ROW_NUMBER() OVER (PARTITION BY e.query_id ORDER BY e.w DESC, e.token) AS erank
       |    FROM expw e
       |    WHERE NOT EXISTS (
       |      SELECT 1 FROM qt WHERE qt.query_id = e.query_id AND qt.token = e.token))
       |  WHERE erank <= $PrfExpansionTerms),
       |peq AS (
       |  SELECT query_id, token, $PrfOrigWeight AS wq FROM qt
       |  UNION ALL
       |  SELECT query_id, token, $PrfExpWeight AS wq FROM expt),
       |prfterms AS (
       |  SELECT peq.query_id, tf.doc_id,
       |    ${TextAnalysis.bm25TermScoreSql} * peq.wq AS s
       |  FROM tf
       |  JOIN peq USING (token) JOIN dfr USING (token)
       |  JOIN dl ON tf.doc_id = dl.doc_id
       |  CROSS JOIN n CROSS JOIN t
       |  WHERE tf.doc_id <> peq.query_id),
       |prftop AS (
       |  SELECT query_id, doc_id, rank FROM (
       |    SELECT query_id, doc_id,
       |      CAST(ROW_NUMBER() OVER (PARTITION BY query_id
       |        ORDER BY SUM(s) DESC, doc_id) AS INT) AS rank
       |    FROM prfterms GROUP BY 1, 2)
       |  WHERE rank <= $EvalK),
       |rankings AS (
       |  SELECT query_id, doc_id, 'lex' AS system, lex_rank AS rank
       |  FROM lextop WHERE lex_rank <= $EvalK
       |  UNION ALL
       |  SELECT query_id, doc_id, 'dense', dense_rank FROM densetop WHERE dense_rank <= $EvalK
       |  UNION ALL
       |  SELECT query_id, doc_id, 'fused', rank FROM fusedtop
       |  UNION ALL
       |  SELECT query_id, doc_id, 'prf', rank FROM prftop),
       |labels AS (SELECT vec_id AS doc_id, label FROM embeddings),
       |qlab AS (SELECT vec_id AS query_id, label AS q_label
       |         FROM embeddings WHERE vec_id < $RrfNumQueries),
       |totrel AS (
       |  SELECT q.query_id, CAST(COUNT(*) AS BIGINT) AS total_relevant
       |  FROM labels l JOIN qlab q ON l.label = q.q_label AND l.doc_id <> q.query_id
       |  GROUP BY 1),
       |marked AS (
       |  SELECT r.query_id, r.system, r.rank,
       |    CASE WHEN l.label = q.q_label THEN 1 ELSE 0 END AS rel
       |  FROM rankings r JOIN labels l USING (doc_id) JOIN qlab q USING (query_id)),
       |m AS (
       |  SELECT query_id, system,
       |    CAST(SUM(rel) AS BIGINT) AS hits_at_10,
       |    MIN(CASE WHEN rel = 1 THEN rank END) AS first_rel,
       |    CAST(SUM(CASE WHEN rel = 1
       |      THEN ([${DcgGainsE9.mkString(", ")}])[rank] ELSE 0 END) AS BIGINT) AS dcg_e9
       |  FROM marked GROUP BY 1, 2)
       |SELECT m.query_id, m.system, m.hits_at_10,
       |  CAST(COALESCE(t.total_relevant, 0) AS BIGINT) AS total_relevant,
       |  CAST(COALESCE(1000000000 // first_rel, 0) AS BIGINT) AS mrr_e9,
       |  m.dcg_e9,
       |  CAST(CASE WHEN COALESCE(t.total_relevant, 0) = 0 THEN 0
       |    ELSE ([${IdcgPrefixE9.mkString(", ")}])[LEAST($EvalK, t.total_relevant)]
       |    END AS BIGINT) AS idcg_e9
       |FROM m LEFT JOIN totrel t USING (query_id)
       |ORDER BY query_id, system""".stripMargin
}
